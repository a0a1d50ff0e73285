package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The store and its SQL catalog scan table data through ONE path,
  * [[Snapshots]]' pinned file index, so which files a read opens is
  * decided in one place. Source scan: a `ParquetTable` or a
  * `spark.read…parquet` chain in `io/Snapshots.scala` or `sources/`
  * would be a second route around it. Comments are skipped; the
  * plan-side manifest read (`planManifest`, under `ManifestSchema`) is
  * the one parquet read that is not table data. */
class ScanPathSpec extends AnyFunSuite {

  test("table data is scanned only through the pinned file index") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = root.resolve("io/Snapshots.scala") +:
      Files.list(root.resolve("sources")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList.sorted
    def code(p: Path): String = Files.readAllLines(p).asScala
      .map(_.replaceAll("//.*$", ""))
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/**"))
      .mkString("\n")
    val readChain = """\.read\b[\s\S]{0,200}?\.parquet\(""".r
    val sites = files.flatMap { p =>
      val src = code(p)
      val reads = readChain.findAllIn(src)
        .filterNot(_.contains("ManifestSchema")).map(m => s"$p: $m")
      val tables = if (src.contains("ParquetTable")) Seq(s"$p: ParquetTable")
        else Nil
      reads ++ tables
    }
    assert(sites.isEmpty, s"${sites.size} scans outside the pinned " +
      s"file index:\n${sites.mkString("\n")}")
  }
}
