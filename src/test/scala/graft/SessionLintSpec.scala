package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its SparkSession through graft.Session, so
  * plans, timings and gate results share one engine configuration. A
  * hand-rolled builder anywhere else under src/ fails the suite. */
class SessionLintSpec extends AnyFunSuite {

  private val srcRoot = {
    // tests run with cwd = repo root under sbt
    val src = new java.io.File("src").getCanonicalFile
    if (new java.io.File(src, "main/scala/graft").isDirectory) Some(src)
    else None
  }

  test("only graft/Session.scala builds a SparkSession") {
    assume(srcRoot.isDefined)
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val walk = java.nio.file.Files.walk(srcRoot.get.toPath)
    val hits =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains(needle))
        .map(p => srcRoot.get.toPath.relativize(p).toString)
        .toList.sorted
      finally walk.close()
    assert(hits == List("main/scala/graft/Session.scala"),
      s"SparkSession built outside graft.Session: $hits")
  }
}
