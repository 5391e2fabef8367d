package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level type in the engine is used by the engine, the benchmark
  * or the build. A type that only tests reach is main code that measures
  * and ships nothing; it fails here. Objects with a `def main` are entry
  * points and are exempt. And every Dataset checkpoint goes through
  * GraftSqlShims. */
class MainSurfaceSpec extends AnyFunSuite {

  /** A top-level (column 0) object, class or trait declaration. */
  private val Decl =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+)""".r

  /** String and char literals are kept (a `//` in a URL is not a comment);
    * block and line comments are blanked. */
  private val CommentOrString =
    "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|'(?:\\\\.|[^'\\\\\n])'|/\\*.*?\\*/|//[^\n]*".r

  private def stripComments(src: String): String =
    CommentOrString.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) m.matched.map(c => if (c == '\n') c else ' ')
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  private def root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")) && Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt with src/main/scala above the working directory"))

  private def scalaFiles(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    }

  private def read(f: Path) = stripComments(new String(Files.readAllBytes(f), "UTF-8"))

  test("every top-level type in src/main is referenced outside its own declaration") {
    val r = root
    val main = scalaFiles(r.resolve("src/main/scala")).map(f => f -> read(f))
    val others = (scalaFiles(r.resolve("perfbench/src")) :+ r.resolve("build.sbt"))
      .filter(Files.exists(_)).map(read)

    // (file, kind, name, [start, end) of the declaration up to the next one)
    val decls = main.flatMap { case (f, text) =>
      val ms = Decl.findAllMatchIn(text).toVector
      ms.zipWithIndex.map { case (m, i) =>
        val end = if (i + 1 < ms.size) ms(i + 1).start else text.length
        (f, m.group(1), m.group(2), m.start, end)
      }
    }
    assert(decls.size > 20, s"the scan found only ${decls.size} declarations")

    val unused = decls.filterNot { case (f, kind, name, start, end) =>
      val body = main.find(_._1 == f).get._2
      val isEntry = kind == "object" && """\bdef\s+main\s*\(""".r.findFirstIn(body.substring(start, end)).isDefined
      val word = s"\\b$name\\b".r
      val elsewhere = main.iterator.map { case (g, text) =>
        if (g == f) text.substring(0, start) + text.substring(end) else text
      } ++ others.iterator
      isEntry || elsewhere.exists(t => word.findFirstIn(t).isDefined)
    }
    if (unused.nonEmpty)
      fail(s"${unused.size} top-level types with no reference in src/main, perfbench/src or build.sbt: " +
        unused.map { case (f, kind, name, _, _) => s"$kind $name (${r.relativize(f)})" }.mkString(", "))
  }

  /** Raw lineage cuts allowed outside GraftSqlShims: (file, code) -> why. */
  private val RawCuts = Map(
    ("graft/algo/CsrPageRank.scala", "newState.localCheckpoint()") ->
      ("runPacked's RDD lineage cut every 25 supersteps: the packed loop " +
        "runs on RDDs, and a Dataset checkpoint has no RDD to cut"))

  test("every Dataset checkpoint in src/main goes through GraftSqlShims") {
    // a raw localCheckpoint claims no partitioning, carries uncapped
    // statistics and can only be released by the garbage collector
    val dir = root.resolve("src/main/scala")
    val lines = scalaFiles(dir).filterNot(_.endsWith("GraftSqlShims.scala")).flatMap { f =>
      val rel = dir.relativize(f).toString.replace('\\', '/')
      read(f).split("\n", -1).zipWithIndex.collect {
        case (line, i) if line.contains("localCheckpoint(") => (rel, i + 1, line.trim)
      }
    }
    val allowed = lines.filter { case (rel, _, line) =>
      RawCuts.keys.exists { case (f, code) => f == rel && line.contains(code) } }
    assert(allowed.size == RawCuts.size, s"allowed raw cuts missing: $RawCuts, found $allowed")
    val raw = lines.diff(allowed)
    if (raw.nonEmpty)
      fail(s"${raw.size} raw localCheckpoint calls outside GraftSqlShims: " +
        raw.map { case (rel, n, _) => s"$rel:$n" }.mkString(", "))
  }
}
