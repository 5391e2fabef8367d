package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's environment surface is a fixed set of names: the bench
  * filters and sizing knobs below, nothing else. A new switch is a second
  * code path that no test or benchmark turns on, so a read of any other
  * name fails here. */
class EnvSurfaceSpec extends AnyFunSuite {

  private val Allowed = Set("SPARK_DRIVER_MEM", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SKIP_SCALING", "SPARK_GRAFT_SKIP_STREAMING",
    "SPARK_GRAFT_QUERY_TIMEOUT_MS")

  /** An environment read: `sys.env…`, `System.getenv…`, with the literal
    * name it reads when there is one. */
  private val Read = """(?:sys\.env|System\.getenv)(?:\.\w+)?\(?\s*("([^"]*)")?""".r

  private def root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")) && Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt with src/main/scala above the working directory"))

  /** (file:line, name or the unparsed read) of every environment read. */
  private def reads(): Seq[(String, String)] = {
    val r = root
    val walk = Files.walk(r.resolve("src/main/scala"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    (sources :+ r.resolve("build.sbt")).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        Read.findAllMatchIn(line).map { m =>
          s"${r.relativize(f)}:${i + 1}" -> Option(m.group(2)).getOrElse(m.matched)
        }
      }
    }
  }

  test("src/main and build.sbt read only the seven documented environment variables") {
    val found = reads()
    assert(found.nonEmpty, "the scan found no environment read at all")
    val stray = found.filterNot { case (_, name) => Allowed(name) }
    assert(stray.isEmpty,
      s"${stray.map(_._2).distinct.size} undocumented names: " +
        stray.map { case (at, name) => s"$name ($at)" }.mkString(", "))
  }
}
