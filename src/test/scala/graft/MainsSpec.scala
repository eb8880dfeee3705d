package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The runnable entry points are a fixed, documented set: the docs name
  * only mains that exist, and no one-off main is added beside them. */
class MainsSpec extends AnyFunSuite {
  private val Kept = Set("graft.Bench", "graft.Verify", "graft.EngineDemo",
    "graft.tools.Profile", "graft.tools.ExplainOne", "graft.tools.DeterminismSweep")

  /** Fully qualified names of the objects under src/main/scala that define
    * `main(args: Array[String])`. */
  private lazy val mains: Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.flatMap(mainOf).toSet
    finally files.close()
  }

  private def mainOf(file: Path): Option[String] = {
    val src = Files.readString(file)
    val at = src.indexOf("def main(args: Array[String])")
    Option.when(at >= 0) {
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1))
      val obj = """\bobject\s+(\w+)""".r.findAllMatchIn(src.substring(0, at)).toList.last.group(1)
      (pkg.toList :+ obj).mkString(".")
    }
  }

  test("exactly the documented entry points define main") {
    assert(mains == Kept)
  }

  test("every runMain in README.md and the verify skill names an existing main") {
    val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
    val named = docs.flatMap { d =>
      """runMain\s+(graft(?:\.\w+)+)""".r
        .findAllMatchIn(Files.readString(Paths.get(d))).map(d -> _.group(1))
    }
    assert(named.nonEmpty)
    assert(named.filterNot { case (_, m) => mains.contains(m) }.isEmpty)
  }
}
