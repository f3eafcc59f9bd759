package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree rules that keep operator-facing output structured, every
  * broadcast hint bounded, every layout swap on one protocol, every
  * JDBC write on one lander and every static-call kernel in one table. */
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

  test("stateful streaming twins fold through the one keyed fold") {
    // a hand-written groupByKey + *GroupsWithState twin decides its fold
    // order, its timeout mode and its timeout clamp again; only
    // StreamingOps.foldSorted's body may name them
    val owned = Seq("flatMapGroupsWithState", "GroupStateTimeout.", "setTimeoutTimestamp")
    val body = scalaFiles("src/main/scala/graft/streaming").map { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      val start = lines.indexWhere(_.contains("def foldSorted["))
      // the primitive ends at the next member of the object
      val end = if (start < 0) -1 else lines.indexWhere(l =>
        l.startsWith("  ") && !l.startsWith("   ") && l.trim.nonEmpty, start + 1)
      f -> (start, end)
    }.toMap
    val hits = codeHits("src/main/scala/graft/streaming") { (f, i, t) =>
      val (start, end) = body(f)
      t.contains("mapGroupsWithState") || owned.exists(t.contains) && !(i > start && i < end)
    }
    assert(hits.isEmpty, s"mapGroupsWithState, or ${owned.mkString(", ")} outside " +
      s"StreamingOps.foldSorted, in: ${hits.mkString(", ")}; state the twin's key, order, " +
      "mode, fold and expiry through foldSorted")
  }

  test("layout dirs and small commit files are replaced only through the swap and replace helpers") {
    // a hand-written retire/swap decides its own crash recovery again;
    // renames stay in the swap primitive, its recovery rule and the
    // atomic small-file replace
    val owners = Seq("def swapIn(", "def recoverSwap(", "def replaceFile(")
    val hits = scalaFiles("src/main/scala/graft/sources").flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      // each body ends at the next member of the object
      val bodies = owners.map(o => lines.indexWhere(_.contains(o))).filter(_ >= 0).map { s =>
        (s, lines.indexWhere(l => l.startsWith("  ") && !l.startsWith("   ") && l.trim.nonEmpty, s + 1))
      }
      lines.indices.filter { i =>
        val t = lines(i).trim
        val code = !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*")
        code && t.contains("rename(") && !bodies.exists { case (s, e) => i > s && i < e }
      }.map(i => s"$f:${i + 1}")
    }
    assert(hits.isEmpty, s"rename( outside swapIn, recoverSwap and replaceFile " +
      s"in: ${hits.mkString(", ")}; replace a dir through LtssSink.swapIn")
    // the zone table swaps too: no commit file of its own beside the marker
    val zoneFiles = scalaFiles("src/main").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains(".zver_intent") || l.contains("zone_staged_manifest") => s"$f:${i + 1}"
      }
    }
    assert(zoneFiles.isEmpty, s"zone commit files in: ${zoneFiles.mkString(", ")}; " +
      "write the zone table through LtssSink.swapZones")
  }

  test("the sink lands JDBC rows through one lander") {
    // Spark's JDBC writer commits per partition and leaves PK conflicts
    // to the caller; every write goes through LtssSink.copyIntoPg, so
    // `.jdbc(` appears under the sink only as a read
    val hits = scalaFiles("src/main/scala/graft/sources").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.filter { case (l, _) =>
        val t = l.trim
        val code = !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*")
        code && t.replace("read.jdbc(", "").contains(".jdbc(")
      }.map { case (_, i) => s"$f:${i + 1}" }
    }
    assert(hits.isEmpty, s".jdbc( other than read.jdbc( in: ${hits.mkString(", ")}; " +
      "land JDBC rows through LtssSink.copyIntoPg")
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

  /** `file:line` of each code line (not a comment) under `dir` that `hit`
    * matches; `hit` gets the file, the 0-based line index and the trimmed line. */
  private def codeHits(dir: String)(
      hit: (java.nio.file.Path, Int, String) => Boolean): Seq[String] =
    scalaFiles(dir).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.filter { case (l, i) =>
        val t = l.trim
        !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") && hit(f, i, t)
      }.map { case (_, i) => s"$f:${i + 1}" }
    }

  test("Catalyst codegen lives only in the generic kernel call and Haversine") {
    // a hand-written expression repeats the type check, null handling and
    // static call that NativeCall states once per kernel row; Haversine
    // stays its own class because HaversineBoxRule matches its type
    val owners = Seq("graft/functions/Kernels.scala", "graft/functions/Haversine.scala")
    val hits = codeHits("src/main/scala/graft") { (f, _, t) =>
      (t.contains("doGenCode") || t.contains("defineCodeGen")) && !owners.exists(f.toString.endsWith)
    }
    assert(hits.isEmpty, s"Catalyst codegen in: ${hits.mkString(", ")}; " +
      "add the kernel as a row of graft.functions.Kernels")
  }

  test("SQL functions are registered only by the loops over GraftExtensions.functions") {
    // the session extension and install register the same list, so a
    // function reachable one way is reachable the other
    val hits = codeHits("src/main/scala") { (_, _, t) =>
      Seq("injectFunction", "createOrReplaceTempFunction", "registerFunction").exists(t.contains) &&
        !t.contains("functions.foreach")
    }
    assert(hits.isEmpty, s"function registration outside the table loops in: " +
      s"${hits.mkString(", ")}; add the function to GraftExtensions.functions")
  }
}
