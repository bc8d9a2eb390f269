package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One session builder: every main gets its session from
  * `graft.core.SessionSetup`, so a tool or example never measures under
  * a config of its own. The test suite's shared session lives outside
  * `src/main` and is not scanned.
  */
class SessionSetupSpec extends AnyFunSuite {

  test("only core/SessionSetup.scala calls SparkSession.builder under src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root (cwd ${sys.props("user.dir")})")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val forks = files
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(forks == Seq("graft/core/SessionSetup.scala"),
      s"session built outside SessionSetup in: ${forks.filterNot(_.endsWith("core/SessionSetup.scala"))}")
  }
}
