package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A comment that cites a spec as the pin of some behaviour is only worth
  * its word if that spec exists: every `…Spec` name in `src/main` must be a
  * class, trait or object in `src/test`.
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

  test("every spec cited in src/main has a test class") {
    val defined = sources("src/test/scala").flatMap { case (_, text) =>
      """\b(?:class|trait|object)\s+(\w+Spec)\b""".r.findAllMatchIn(text).map(_.group(1))
    }.toSet
    val cited = sources("src/main/scala").flatMap { case (p, text) =>
      """\b[A-Z]\w*Spec\b""".r.findAllIn(text).map(_ -> p)
    }
    assert(cited.nonEmpty)
    val missing = cited.filterNot { case (name, _) => defined(name) }
    assert(missing.isEmpty,
      missing.map { case (name, p) => s"$name cited in $p" }.distinct.mkString("\n"))
  }
}
