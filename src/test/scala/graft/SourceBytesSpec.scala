package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Scala sources hold no raw control bytes: grep and rg treat a file
  * with one (a NUL in a char literal, say) as binary and silently skip
  * it in code search. Write `'\u0000'`-style escapes instead. */
class SourceBytesSpec extends AnyFunSuite {

  test("no control bytes other than tab, newline and carriage return in src/**/*.scala") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val bad = files.flatMap { (p: Path) =>
      val bytes = Files.readAllBytes(p)
      var line = 1
      bytes.iterator.flatMap { b =>
        if (b == '\n') line += 1
        if (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r')
          Some(f"$p:$line: byte 0x$b%02x") else None
      }.toSeq
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
