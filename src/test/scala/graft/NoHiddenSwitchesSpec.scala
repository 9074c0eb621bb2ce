package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its settings as parameters: no JVM property or
  * environment variable may decide what a query or an operator computes.
  * Entry-point mains (Bench, Verify, Soak, …) read their own
  * environment; the library sources below may not. The one exception is
  * `Engine.session`'s default warehouse directory under `java.io.tmpdir`. */
class NoHiddenSwitchesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val packages = Seq("operators", "functions", "plans", "streaming", "sources")
  private val files = Seq("Queries", "ExtensionQueries", "CoverageQueries",
    "PipelineQueries", "Tables", "Engine", "Cli", "SparkEntry")
  private val switch = """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r

  private def scalaFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("library sources read no JVM property or environment variable") {
    val sources = packages.flatMap(p => scalaFiles(root.resolve(p))) ++
      files.map(f => root.resolve(s"$f.scala"))
    assert(sources.forall(Files.isRegularFile(_)) && sources.size > files.size,
      s"source tree not found under ${root.toAbsolutePath}")
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if switch.findFirstIn(line).isDefined
      if !(f.getFileName.toString == "Engine.scala" && line.contains("java.io.tmpdir"))
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("switch reads in library code:\n", "\n", ""))
  }
}
