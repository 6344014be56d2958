package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads its environment in one place: [[Settings]] and the
  * `main` entry points. Code below them — operators, functions, plans,
  * sources and streaming — takes every tuning value as a constant or
  * an argument, so engine and DuckDB oracle can never disagree about a
  * value set in the environment of one JVM. This spec names each line
  * that breaks the rule.
  */
class ConfigSurfaceSpec extends AnyFunSuite {
  private val guarded =
    Seq("operators", "functions", "plans", "sources", "streaming")
  private val read =
    """\bsys\.(env|props)\b|\bSystem\.(getenv|getPropert)""".r

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no environment or system-property reads below Settings") {
    val root = new File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: $root")
    val files = guarded.flatMap(d => scalaFiles(new File(root, d)))
    assert(files.nonEmpty, "guarded packages hold no sources")
    val offending = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      lines = try src.getLines().toVector finally src.close()
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") &&
        !code.startsWith("//")
      if read.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: $code"
    if (offending.nonEmpty)
      fail("read the value in Settings and pass it down:\n" +
        offending.mkString("\n"))
  }
}
