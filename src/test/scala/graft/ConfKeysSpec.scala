package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` session conf the library reads is documented in
  * README's "Tuning knobs" table, and every key there is still read. The
  * bench/verify harnesses and dev tools (`Bench.scala`, `Verify.scala`,
  * `tools/`) are not library surface and are excluded. */
class ConfKeysSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val TableKey = "^\\|\\s*`(spark\\.graft\\.[A-Za-z0-9_.]+)`".r

  private def libraryKeys(): Set[String] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .filterNot { p =>
        val rel = root.relativize(p).toString
        rel.endsWith("/Bench.scala") || rel.endsWith("/Verify.scala") ||
          rel.contains("/tools/")
      }
      .flatMap(p => KeyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally walk.close()
  }

  private def documentedKeys(): Set[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    val section = lines.dropWhile(!_.startsWith("## Tuning knobs"))
      .drop(1).takeWhile(!_.startsWith("## "))
    section.flatMap(l => TableKey.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("the spark.graft.* confs read under src/main equal README's Tuning knobs table") {
    val code = libraryKeys()
    val doc = documentedKeys()
    assert(code.nonEmpty && doc.nonEmpty, s"code=$code doc=$doc")
    assert(code -- doc == Set.empty, "read in src/main but missing from README's table")
    assert(doc -- code == Set.empty, "in README's table but no longer read in src/main")
  }
}
