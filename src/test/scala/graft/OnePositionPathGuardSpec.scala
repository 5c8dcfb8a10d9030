package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Position-delete files are written by one commit
  * (`LakeTableRowOps.commitPositions`) and read by one decoder
  * (`LakeSource.deleteFileRows`, behind `loadDeletedPositions`). This
  * guard fails on any main source that reads them back through
  * `spark.read` with their schema — the distributed re-read that a
  * second position path (a task-written delete file vectorized at
  * commit, a rewrite job) needs.
  */
class OnePositionPathGuardSpec extends AnyFunSuite {
  test("no main source reads position-delete files through spark.read") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val reread = """\.schema\(\s*(LakeTable\.)?DeleteFileSchema\s*\)""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if reread.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(hits.isEmpty,
      "position-delete files read through spark.read:\n" + hits.mkString("\n"))
  }
}
