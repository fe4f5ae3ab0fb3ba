package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source rules for `src/main/scala` (the session rule also covers
  * `src/test/scala`) that a compiler cannot check, and README and
  * verify-skill facts that must follow the code. */
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

  test("localCheckpoint only inside Materializer") {
    // A local checkpoint cuts the lineage, so Spark's task retry cannot
    // rebuild a lost block. Reuse points go through
    // `df.materialized(site, eager)`, whose strategy a cluster
    // deployment swaps for PersistedTable in one place.
    assert(Files.isDirectory(mainSrc), s"run from the repo root: $mainSrc")
    val allowed = mainSrc.resolve("graft/Materializer.scala")
    val banned = "\\blocalCheckpoint\\(".r
    val hits = Files.walk(mainSrc).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
      .toSeq.sorted
      .flatMap { p =>
        val n = banned.findAllIn(code(p)).size
        if (n == 0) None else Some(s"${mainSrc.relativize(p)}: x$n")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("in-task fan-out only in GeoTiffWriter's tile batch and Bench's " +
    "file walk") {
    // A Spark task already holds one of the executor's cores; a thread
    // pool opened inside it multiplies the executor's threads without
    // the scheduler knowing. The one sanctioned fan-out inside a task
    // is the COG tile batch on the JVM's common ForkJoin pool (bounded
    // by the core count, shared by every task); Bench's untimed
    // page-cache warm-up walks files with a parallel collection.
    assert(Files.isDirectory(mainSrc), s"run from the repo root: $mainSrc")
    val banned = Seq(
      "\\.parallel\\(\\)".r, // java.util.stream
      "\\.parallel(Stream|SetAll|Sort|Prefix)\\(".r, // same common pool
      "\\bForkJoinPool\\b".r,
      "\\bExecutors\\.new".r,
      "\\.par\\b".r) // Scala parallel collections
    val allowed = Set(
      "graft/sources/GeoTiffWriter.scala: \\.parallel\\(\\) x1",
      "graft/Bench.scala: \\.par\\b x1")
    val hits = Files.walk(mainSrc).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        val src = code(p)
        banned.flatMap { r =>
          val n = r.findAllIn(src).size
          if (n == 0) None else Some(s"${mainSrc.relativize(p)}: $r x$n")
        }
      }
    assert(hits.toSet == allowed,
      s"found:\n${hits.mkString("\n")}\nallowed:\n${allowed.mkString("\n")}")
  }

  test("sessions are built only through GraftSession") {
    // UTC, nanosAsLong and the core rule are one contract; a session
    // built elsewhere drifts from it.
    // Entry points, tools and the test session add their extras to
    // GraftSession.builder's result.
    val roots = Seq(mainSrc, Paths.get("src/test/scala"))
    roots.foreach(r =>
      assert(Files.isDirectory(r), s"run from the repo root: $r"))
    val allowed = mainSrc.resolve("graft/GraftSession.scala")
    val banned = "\\bSparkSession\\s*\\.\\s*builder\\b".r
    val hits = roots.flatMap(r => Files.walk(r).iterator.asScala)
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
      .sorted
      .flatMap { p =>
        val n = banned.findAllIn(code(p)).size
        if (n == 0) None else Some(s"$p: x$n")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no file under src/main names spark.sql.ansi.enabled") {
    // graft runs on Spark's default ANSI mode: an answer must not
    // depend on a session flag, so no product code sets or reads it
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root: $main")
    val hits = Files.walk(main).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq.sorted
      .filter(p => Files.readString(p).contains("spark.sql.ansi.enabled"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("kernels are reached through GraftFunctions.call, not the " +
    "session registry") {
    // A call_function or expr string resolves a kernel name only on a
    // session someone registered; GraftFunctions.call builds the same
    // expression from the registration table on any session. register
    // stays the SQL-text surface for users, so nothing in src/main
    // calls it.
    assert(Files.isDirectory(mainSrc), s"run from the repo root: $mainSrc")
    val allowed = mainSrc.resolve("graft/GraftFunctions.scala")
    val names = GraftFunctions.registrations.map(_._1.funcName)
      .mkString("(", "|", ")")
    val banned = Seq(
      "GraftFunctions\\.register\\(".r,
      s"""call_function\\(\\s*"$names"""".r,
      s"""\\bexpr\\(s?"[^"]*\\b$names\\(""".r)
    val hits = Files.walk(mainSrc).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
      .toSeq.sorted
      .flatMap { p =>
        val src = code(p)
        banned.flatMap(_.findAllIn(src)
          .map(m => s"${mainSrc.relativize(p)}: $m"))
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("README's Registered SQL functions table names exactly the " +
    "registered functions") {
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("### Registered SQL functions")
    assert(start >= 0, "README has no Registered SQL functions section")
    val rows = readme.substring(start).linesIterator.drop(1)
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
      .drop(2).toSeq // header and separator
    // a function is a code span that is a bare name or a call:
    // `hll_sketch`, `vec_dot(a, b)`; `array<bigint>` is not
    val Call = "([a-z][a-z0-9_]*)(?:\\(.*\\))?".r
    val documented = rows.flatMap("`([^`]+)`".r.findAllMatchIn(_))
      .map(_.group(1)).collect { case Call(name) => name }
    val registered = GraftFunctions.registrations.map(_._1.funcName)
    assert(documented.diff(documented.distinct).isEmpty,
      s"listed twice: ${documented.diff(documented.distinct)}")
    assert(registered.toSet -- documented == Set.empty,
      "registered but not in the README table")
    assert(documented.toSet -- registered == Set.empty,
      "in the README table but not registered")
  }

  test("every tools/*.py script is named in the verify skill") {
    // a script that no documented command runs goes stale unseen:
    // document it in the skill or delete it
    val skill = Files.readString(Paths.get(".claude/skills/verify/SKILL.md"))
    val unnamed = Files.list(Paths.get("tools")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".py")).toSeq.sorted
      .filterNot(n => skill.contains(s"tools/$n"))
    assert(unnamed.isEmpty, s"not named in the verify skill: $unnamed")
  }
}
