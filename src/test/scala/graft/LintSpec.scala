package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree rules that keep operator-facing output structured. */
class LintSpec extends AnyFunSuite {

  test("no stderr writes in the sink and streaming sources") {
    val dirs = Seq("src/main/scala/graft/sources", "src/main/scala/graft/streaming")
    val hits = dirs.flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter(_._1.contains("System.err")).map { case (_, i) => s"$f:${i + 1}" }
    }
    assert(hits.isEmpty, s"System.err in: ${hits.mkString(", ")}; log through a named logger")
  }
}
