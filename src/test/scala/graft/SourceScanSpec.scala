package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the engine at one session builder and one extension install
  * path: sessions are built only in Harness.scala (and Smoke.scala, which
  * keeps a bare default session on purpose), and only GraftExtensions.scala
  * touches the function registry or the experimental optimizer and planner
  * hooks. */
class SourceScanSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no Scala sources under $root")
    files
  }

  private def offenders(roots: Seq[String], needles: Seq[String],
      allowed: Set[String]): Seq[String] =
    for {
      f <- roots.flatMap(sources)
      if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"

  test("sessions are built only by Harness (and the bare Smoke session)") {
    val hits = offenders(Seq("src/main/scala"), Seq("SparkSession.builder()"),
      Set("Harness.scala", "Smoke.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only GraftExtensions installs functions, rules and strategies") {
    val hits = offenders(Seq("src/main/scala", "src/test/scala"),
      Seq("functionRegistry", "experimental.extra"),
      Set("GraftExtensions.scala", "SourceScanSpec.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
