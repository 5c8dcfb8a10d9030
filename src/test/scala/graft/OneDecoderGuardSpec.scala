package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every lake parquet file, data or delete file, decodes through
  * Spark's vectorized parquet reader, so key tuples and data-row keys
  * come from the same decoder and the same promotions. This guard
  * fails on any main source that reaches for parquet-mr's example
  * `Group` model (`org.apache.parquet.example`,
  * `org.apache.parquet.hadoop.example`), the second decoder the
  * engine retired.
  */
class OneDecoderGuardSpec extends AnyFunSuite {
  test("no main source uses parquet-mr's example Group model") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val groupModel = """org\.apache\.parquet\.(hadoop\.)?example\b""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if groupModel.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(hits.isEmpty, "parquet-mr Group model in use:\n" + hits.mkString("\n"))
  }
}
