package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `operators/Materialize` is the one place that pins a
  * DataFrame. A `persist`/`cache` anywhere else is a CacheManager entry
  * a later query with the same plan can be served stale from, and a
  * bare `localCheckpoint` is a materialization outside the one policy
  * (eager, released through `Materialize.free` or the ContextCleaner). */
class MaterializeLintSpec extends AnyFunSuite {

  test("only Materialize.scala materializes: no localCheckpoint, " +
    "persist or cache anywhere else in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"source root not found: $root")
    val pat = """localCheckpoint\(|\.persist\(|\.cache\(\)""".r
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "Materialize.scala"))
    val hits = sources
      .filterNot(_.getFileName.toString == "Materialize.scala")
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pat.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, "materialize through operators.Materialize " +
      "(`.transform(Materialize(_))`, `Materialize.ck*`) instead:\n" +
      hits.mkString("\n"))
  }
}
