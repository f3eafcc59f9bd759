package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree rules that keep operator-facing output structured and
  * every broadcast hint bounded. */
class LintSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): List[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("no stderr writes in the sink and streaming sources") {
    val dirs = Seq("src/main/scala/graft/sources", "src/main/scala/graft/streaming")
    val hits = dirs.flatMap(scalaFiles).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter(_._1.contains("System.err")).map { case (_, i) => s"$f:${i + 1}" }
    }
    assert(hits.isEmpty, s"System.err in: ${hits.mkString(", ")}; log through a named logger")
  }

  test("every broadcast hint states what bounds its side") {
    // a hint overrides autoBroadcastJoinThreshold, so it belongs only on
    // a side bounded by construction; anything that grows with the data
    // is left to the threshold. Comment lines that name the function
    // are not hints.
    val hits = scalaFiles("src/main/scala").flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter { i =>
        val t = lines(i).trim
        val code = !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*")
        code && t.contains("broadcast(") && !lines(i).contains("// bound:") &&
          !(i > 0 && lines(i - 1).trim.startsWith("// bound:"))
      }.map(i => s"$f:${i + 1}")
    }
    assert(hits.isEmpty, s"broadcast( without a `// bound: …` comment on its line or the " +
      s"line above: ${hits.mkString(", ")}")
  }
}
