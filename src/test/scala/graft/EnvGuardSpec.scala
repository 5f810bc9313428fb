package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Operator code reads no environment variable: a run's results
  * depend on its inputs and session config only, so an A/B switch
  * between two operator paths cannot come back unnoticed. Harness
  * entry points (Bench, Sessions, ...) sit outside these packages.
  */
class EnvGuardSpec extends SparkTestBase {

  private val operatorPackages = Seq("core", "operators", "ext", "functions",
    "plans", "pipeline", "sentem", "wrtds", "sources", "streaming", "report")

  test("operator packages never read the environment") {
    val root = Paths.get("src/main/scala/graft")
    val files = operatorPackages.flatMap { pkg =>
      val dir = root.resolve(pkg)
      assert(Files.isDirectory(dir), s"operator package $dir not found")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size >= operatorPackages.size, s"scanned only $files")
    val envRead = """sys\.env|System\.getenv""".r
    val hits = files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("environment reads in operator code:\n", "\n", ""))
  }
}
