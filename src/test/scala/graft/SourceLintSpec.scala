package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source rules for `src/main/scala` that a compiler cannot check. */
class SourceLintSpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala")

  /** Source text with comments removed: block comments, and line
    * comments that start after whitespace (so `s3://` survives). */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "")

  test("Hadoop listFiles / listLocatedStatus / LocatedFileStatus only " +
    "behind ListingReader.leafFiles") {
    // LocatedFileStatus(FileStatus, …) reads the file's permission;
    // without libhadoop, RawLocalFileSystem forks one `ls -ld` per file.
    // ListingReader.leafFiles is the one place that lists recursively:
    // it walks local paths with listStatus per directory and keeps
    // listFiles (one flat paged LIST) for object stores.
    assert(Files.isDirectory(mainSrc), s"run from the repo root: $mainSrc")
    val allowed = mainSrc.resolve("graft/sources/dsv2/ListingSource.scala")
    val banned = Seq(
      "\\.listFiles\\((?!\\))".r, // java.io.File#listFiles() is fine
      "\\blistLocatedStatus\\(".r,
      "\\bnew\\s+LocatedFileStatus\\(".r)
    val hits = Files.walk(mainSrc).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
      .toSeq.sorted
      .flatMap { p =>
        val src = code(p)
        banned.filter(_.findFirstIn(src).isDefined).map(r => s"$p: $r")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
