package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.core` and `graft.sources` sit BELOW the index families: the
  * lifecycle they share (locks, retention, write sizing, commit) lives in
  * [[IndexLifecycle]], so no file in either package may reference
  * `graft.dedup`. Reads the sources relative to the build root, where sbt
  * forks the test JVM. */
class LayeringSpec extends AnyFunSuite {

  test("graft.core and graft.sources never reference graft.dedup") {
    val files = Seq("core", "sources").flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg)
      assert(Files.isDirectory(dir), s"$dir not found under ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("graft.dedup") => s"$f:${i + 1}: ${line.trim}"
      }
    }
    if (offenders.nonEmpty) fail(offenders.mkString("\n", "\n", ""))
  }
}
