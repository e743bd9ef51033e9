package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Catalog

/** Structural invariants of the query board — the registries live in
  * Map LITERALS, not compiler-linked, so this spec is the only thing
  * standing between a silently-shadowed duplicate key (later Map entry
  * wins — r13's measured hazard) and a baffling verify-time column
  * mismatch. */
class CatalogSpec extends AnyFunSuite {

  test("no duplicate keys in the queries or oracleSql Map literals " +
    "(a duplicate silently SHADOWS the earlier entry at runtime)") {
    val (qk, ok) = Catalog.sourceKeys()
    def dups(s: Seq[String]) =
      s.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups(qk).isEmpty, s"duplicate query keys: ${dups(qk)}")
    assert(dups(ok).isEmpty, s"duplicate oracle keys: ${dups(ok)}")
    // and the source-level extraction agrees with the runtime Maps —
    // if this fails the regex drifted from the file's layout
    assert(qk.toSet == SparkEntry.queries.keySet,
      "source-extracted query keys != runtime Map keys " +
        s"(only-in-source: ${qk.toSet -- SparkEntry.queries.keySet}; " +
        s"only-in-map: ${SparkEntry.queries.keySet -- qk.toSet})")
    assert(ok.toSet == SparkEntry.oracleSql.keySet,
      "source-extracted oracle keys != runtime Map keys")
  }

  test("every query has an oracle and every oracle has a query " +
    "(the correctness gate covers the whole board, no orphans)") {
    val (qk, ok) = Catalog.sourceKeys()
    assert(qk.toSet == ok.toSet,
      s"queries without oracle: ${qk.toSet -- ok.toSet}; " +
        s"oracles without query: ${ok.toSet -- qk.toSet}")
  }

  test("CATALOG.md is fresh (regenerate: sbt 'runMain " +
    "graft.tools.Catalog') — bench seconds excluded: the driver's " +
    "own Bench rerun rewrites BENCH_FULL.json after generation") {
    val onDisk = java.nio.file.Files.readString(
      java.nio.file.Paths.get("CATALOG.md"))
    assert(onDisk == Catalog.render(),
      "CATALOG.md is STALE — regenerate with graft.tools.Catalog")
  }

  test("the concept column covers (almost) every query — the " +
    "grep-the-concept-FIRST surface: duplicate-CONCEPT queries slip " +
    "past the duplicate-KEY gate (r14 found two), so every entry's " +
    "banner comment must yield a greppable phrase") {
    val (qk, _) = Catalog.sourceKeys()
    val cons = Catalog.concepts()
    val missing = qk.filter(q => cons.getOrElse(q, "-") == "-")
    // a handful of §2-checklist one-liners share a family banner;
    // anything beyond that means banners are rotting
    assert(missing.size <= qk.size / 20,
      s"${missing.size} queries with no concept banner: " +
        missing.take(15).mkString(", "))
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

  test("localCheckpoint appears in src/main/scala only in " +
    "graft/ops/Iterate.scala (one module owns the pinning policy)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/ops/Iterate.scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.contains(owner), s"$owner moved: update this guard")
    val offenders = files.filter(f => f != owner &&
      java.nio.file.Files.readString(f).contains("localCheckpoint"))
    assert(offenders.isEmpty,
      s"pin through graft.ops.Iterate.pin instead: ${offenders.mkString(", ")}")
  }
}
