package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MetaFanout

/** Key-creep guard: the `spark.graft.*` keys the engine reads are
  * exactly the ones README.md's Configuration list documents, so a
  * new key lands together with its line there. An interpolated key
  * (`s"spark.graft.slow.$side.$k"`) counts as its prefix family. */
class ConfInventorySpec extends AnyFunSuite {

  private val key = "(spark\\.graft\\.[A-Za-z0-9_.]*)".r

  /** A key cut off at an interpolation or a brace names a family. */
  private def norm(k: String): String = if (k.endsWith(".")) k + "*" else k

  test("the spark.graft keys in src/main equal README's Configuration list") {
    val literal = ("\"" + key.regex).r
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "run from the repository root")
    val inCode = files.flatMap(p =>
      literal.findAllMatchIn(Files.readString(p)).map(m => norm(m.group(1))))
      .toSet -- MetaFanout.RetiredKeys
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Configuration"))
      .getOrElse(fail("README.md has no Configuration section"))
    val listed = section.linesIterator.filter(_.startsWith("- `"))
      .flatMap(l => key.findFirstMatchIn(l).map(m => norm(m.group(1)))).toSet
    assert(inCode === listed,
      s"in code only: ${inCode -- listed}; in README only: ${listed -- inCode}")
  }
}
