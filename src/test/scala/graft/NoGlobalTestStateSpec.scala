package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Suites run in parallel inside one forked JVM, so a test that sets a
  * `graft.*` JVM system property changes the engine under every
  * concurrent suite while it is set. Tests steer the engine through
  * session confs and table properties instead; this guard fails on
  * any test source that sets one.
  */
class NoGlobalTestStateSpec extends AnyFunSuite {
  test("no test source sets a graft.* JVM system property") {
    val root = Paths.get("src", "test")
    assert(Files.isDirectory(root), s"test sources not found under $root")
    val setters = Seq(
      """System\.setProperty\(\s*"graft\.""".r,
      """sys\.props\([^)]*\)\s*=[^=]""".r)
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if setters.exists(_.findFirstIn(line).isDefined) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(hits.isEmpty, "JVM-global test state:\n" + hits.mkString("\n"))
  }
}
