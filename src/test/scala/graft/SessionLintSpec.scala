package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard for the one session factory: `graft.tools.Harness`
  * owns the library's only SparkSession builder, so core count, scan
  * split size and logging cannot drift apart across tool mains again,
  * and no source pins a core count baked in for some other machine.
  */
class SessionLintSpec extends AnyFunSuite {

  private val harness = Paths.get("src/main/scala/graft/tools/Harness.scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("SparkSession.builder appears only in Harness.scala") {
    val hits = sources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p
    }
    assert(hits == Seq(harness))
  }

  test("no source falls back to a fixed SPARK_GRAFT_CPUS core count") {
    assert(sources.exists(_._1 == harness))
    val pinned = """getOrElse\(\s*"SPARK_GRAFT_CPUS"\s*,\s*"\d+"\s*\)""".r
    val hits = sources.collect {
      case (p, src) if pinned.findFirstIn(src).nonEmpty => p
    }
    assert(hits.isEmpty)
  }
}
