package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable main under `graft.tools` is run by
  * `tools/closeout.sh`: a tool that no gate runs stops being checked,
  * so it is either wired into the close-out chain or deleted.
  */
class ToolsGatedSpec extends AnyFunSuite {
  private val toolsDir = Paths.get("src/main/scala/graft/tools")
  private val closeout = Paths.get("tools/closeout.sh")

  /** Names of the objects in `file` that define `def main`. */
  private def mains(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val objects = "\\bobject\\s+(\\w+)".r.findAllMatchIn(src).toSeq
    "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(src).toSeq.flatMap { m =>
      objects.takeWhile(_.start < m.start).lastOption.map(_.group(1))
    }.distinct
  }

  test("every main under graft.tools is named by tools/closeout.sh") {
    assert(Files.isDirectory(toolsDir) && Files.isRegularFile(closeout),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Using.resource(Files.walk(toolsDir))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val names = files.flatMap(mains)
    assert(names.nonEmpty, s"no main found under $toolsDir")
    val script = Files.readString(closeout)
    val ungated = names.filterNot(n =>
      s"graft\\.tools\\.$n\\b".r.findFirstIn(script).isDefined)
    assert(ungated.isEmpty,
      s"tools no close-out step runs: ${ungated.sorted.mkString(", ")}")
  }
}
