package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine has one configuration: its library code reads no
  * environment variables or system properties. Entry points (`tools/`,
  * `Verify`, `Bench`) may still read deployment settings. */
class FixedConfigSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val engineDirs = Seq("kb", "mine", "pipeline", "plans", "functions",
    "sources", "streaming", "expressions")
  private val envRead = """sys\.env|System\.getenv|sys\.props""".r

  private def scalaFiles(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    } else Seq(p)

  test("engine code reads no environment variables or system properties") {
    val targets = engineDirs.map(root.resolve) :+ root.resolve("Sessions.scala")
    targets.foreach(t => assert(Files.exists(t), s"$t missing"))
    val files = targets.flatMap(scalaFiles)
    assert(files.size > engineDirs.size)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
