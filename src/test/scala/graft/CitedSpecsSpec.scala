package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A comment that cites a spec as the pin of some behaviour is only worth
  * its word if that spec exists: every `…Spec` name in `src/main` must be a
  * class, trait or object in `src/test`. The same holds for the probe mains
  * a comment cites as the source of a measurement: every `…Probe` name in
  * `src/main` must be an object under `graft/examples`, and so must every
  * probe the verify skill tells a reader to run. And every example main is
  * there for a reason the README's `examples/` entry gives in one line.
  */
class CitedSpecsSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private val probeName = """\b[A-Z]\w*Probe\d*\b"""

  private def exampleObjects: Set[String] =
    // by object, not by file: one file may hold several probe objects
    sources("src/main/scala/graft/examples").flatMap { case (_, text) =>
      """\bobject\s+(\w+)""".r.findAllMatchIn(text).map(_.group(1))
    }.toSet

  /** Every match of `cited` in `citers` must be one of `defined`. */
  private def assertDefined(cited: String, defined: Set[String],
      citers: Seq[(Path, String)] = sources("src/main/scala")): Unit = {
    val found = citers.flatMap { case (p, text) => cited.r.findAllIn(text).map(_ -> p) }
    assert(found.nonEmpty)
    val missing = found.filterNot { case (name, _) => defined(name) }
    assert(missing.isEmpty,
      missing.map { case (name, p) => s"$name cited in $p" }.distinct.mkString("\n"))
  }

  test("every spec cited in src/main has a test class") {
    assertDefined("""\b[A-Z]\w*Spec\b""", sources("src/test/scala").flatMap { case (_, text) =>
      """\b(?:class|trait|object)\s+(\w+Spec)\b""".r.findAllMatchIn(text).map(_.group(1))
    }.toSet)
  }

  test("every probe cited in src/main is an example main") {
    assertDefined(probeName, exampleObjects)
  }

  test("the example mains are exactly those README's examples/ entry lists, each with its reason") {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
    val entry = lines.indexWhere(_.matches("""\s+examples/\s+.*"""))
    assert(entry >= 0, "README has no examples/ entry")
    // the entry's continuation lines, then one `Name  reason` line per main
    val listed = lines.drop(entry + 1).dropWhile(_.matches("""\s{20,}\S.*"""))
      .map("""^\s{4}(\w+)\s{2,}(\S.*)$""".r.findFirstMatchIn(_))
      .takeWhile(_.nonEmpty).flatten.map(m => m.group(1) -> m.group(2))
    assert(listed.map(_._1).distinct.size == listed.size, listed)
    assert(listed.map(_._1).toSet == exampleObjects)
  }

  test("every probe the verify skill names is an example main") {
    val skill = Paths.get(".claude/skills/verify/SKILL.md")
    assertDefined(probeName, exampleObjects, Seq(skill -> Files.readString(skill)))
  }
}
