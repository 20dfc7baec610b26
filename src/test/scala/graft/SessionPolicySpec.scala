package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source scan over `src/main/scala`: the session recipe lives in one
  * module, and the removed experiment settings stay removed.
  */
class SessionPolicySpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p) -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def filesContaining(s: String): Seq[String] =
    sources.collect { case (p, text) if text.contains(s) => p.toString }

  test("only graft/Session.scala builds a SparkSession") {
    assert(sources.nonEmpty)
    assert(filesContaining("SparkSession.builder(") == Seq("graft/Session.scala"))
  }

  test("removed settings are read nowhere") {
    // spelled in pieces so this file is no hit for a search of src/
    for (name <- Seq("spark.graft.loop" + ".aqe", "SPARK_GRAFT_" + "MINPART",
      "GRAFT_CC_" + "DEBUG"))
      assert(filesContaining(name).isEmpty, name)
  }
}
