package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level structure rules, read relative to the build root, where
  * sbt forks the test JVM.
  *
  *  - `graft.core` and `graft.sources` sit BELOW the index families: the
  *    lifecycle they share (locks, retention, write sizing, commit) lives
  *    in [[IndexLifecycle]], so no file in either package may reference
  *    `graft.dedup`.
  *  - Harness sessions come from [[graft.GraftSession]] only, so a tool
  *    cannot drift from the configuration the bench measures. `SparkSpec`
  *    keeps its own builder for its temp warehouse dir. */
class LayeringSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): List[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$root not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("graft.core and graft.sources never reference graft.dedup") {
    val files = Seq("core", "sources").flatMap(pkg => scalaFiles(s"src/main/scala/graft/$pkg"))
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("graft.dedup") => s"$f:${i + 1}: ${line.trim}"
      }
    }
    if (offenders.nonEmpty) fail(offenders.mkString("\n", "\n", ""))
  }

  test("only GraftSession and SparkSpec build a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val allowed = Set("GraftSession.scala", "SparkSpec.scala")
    val files = Seq("src/main", "src/test").flatMap(scalaFiles)
    val offenders = files.filterNot(f => allowed(f.getFileName.toString))
      .filter(f => builder.findFirstIn(Files.readString(f)).isDefined)
    if (offenders.nonEmpty) fail(offenders.mkString("\n", "\n", ""))
  }
}
