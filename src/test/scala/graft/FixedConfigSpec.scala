package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine has one configuration: its library code reads no
  * environment variables or system properties. Every source file under
  * `src/main/scala/graft` is library code except the CLI entry points in
  * `tools/`, which may read deployment settings (`SPARK_MASTER`). */
class FixedConfigSpec extends AnyFunSuite {
  private val root  = Paths.get("src/main/scala/graft")
  private val tools = root.resolve("tools")
  private val envRead = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r

  private def engineFiles: Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(tools)).toList
    finally s.close()
  }

  test("engine code reads no environment variables or system properties") {
    val files = engineFiles
    assert(files.contains(root.resolve("Sessions.scala")), s"walked the wrong tree: $files")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
