package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Session.local]], so the
  * session contract (cores, shuffle partitions, UTC, UI off) has one
  * definition. Source scan only: building a second session in the test
  * JVM would hand back the shared test session and change its settings.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears in main code only in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val factory = root.resolve("graft/Session.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val sites = files.filter(p =>
      p != factory && Files.readString(p).contains("SparkSession.builder"))
    assert(sites.isEmpty, s"${sites.size} sites; build sessions with " +
      s"graft.Session.local instead: ${sites.sorted.mkString(", ")}")
    assert(Files.readString(factory).contains("SparkSession.builder"))
  }
}
