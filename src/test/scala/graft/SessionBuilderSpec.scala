package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: every entry point runs on `Bench.session`, so the
  * engine sources hold exactly one `SparkSession.builder()` chain. A
  * second chain is how the profiles and the board came to measure
  * different confs. Scans the sources as text; it builds no session
  * (a `getOrCreate` here would mutate the shared SparkSpec session). */
class SessionBuilderSpec extends AnyFunSuite {

  test("SparkSession.builder() occurs once in src/main, in Bench.scala") {
    val needle = "SparkSession.builder()"
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val sites =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { p =>
          val n = Files.readString(p).split(Pattern.quote(needle), -1).length - 1
          Seq.fill(n)(root.relativize(p).toString)
        }
      finally walk.close()
    assert(sites == Seq(Path.of("graft", "Bench.scala").toString), sites)
  }
}
