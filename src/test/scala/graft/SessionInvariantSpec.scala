package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A plan's shape depends only on the query and its session: every
  * session in `src/main` is built by [[GraftSession.configure]], and no
  * JVM system property or mutable global steers what the engine plans.
  * Checked over the source text, so a new main or toggle fails here
  * before it can reach a measurement.
  */
class SessionInvariantSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def offenders(files: Seq[(Path, String)], re: String): Seq[String] =
    files.flatMap { case (p, text) =>
      re.r.findAllMatchIn(text).map { m =>
        s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }

  test("every SparkSession.builder() in src/main is an argument of configure(") {
    // GraftSession.local calls its own configure unqualified
    val bare = offenders(sources, """(?<!configure\()SparkSession\.builder\(\)""")
    assert(bare.isEmpty, bare.mkString(", "))
  }

  test("src/main sets no JVM system property") {
    val sets = offenders(sources, """System\.setProperty\b""")
    assert(sets.isEmpty, sets.mkString(", "))
  }

  test("SparkEntry and the operators hold no @volatile var") {
    val planning = sources.filter { case (p, _) =>
      p.endsWith("graft/SparkEntry.scala") ||
        p.startsWith(root.resolve("graft/operators"))
    }
    assert(planning.exists(_._1.endsWith("graft/SparkEntry.scala")))
    val vars = offenders(planning, """@volatile\b[^=\n]*\bvar\b""")
    assert(vars.isEmpty, vars.mkString(", "))
  }
}
