package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards on the library's structure. */
class ArchitectureSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def lines(p: Path): IndexedSeq[String] =
    Files.readAllLines(p).asScala.toIndexedSeq

  test("one stateful streaming runtime: flatMapGroupsWithState only in StatefulOps.emaStream") {
    // every twin folds on TwsOps.FoldProcessor (transformWithState); the
    // benchmark's reference arm emaStream is the one flatMapGroupsWithState
    // call allowed, so a second runtime cannot quietly come back
    val pattern = "flatMapGroupsWithState|GroupState".r
    val ops = Paths.get("src/main/scala/graft/streaming/StatefulOps.scala")
    val opsLines = lines(ops)
    val defAt = opsLines.indexWhere(_.contains("def emaStream("))
    assert(defAt > 0, "StatefulOps.emaStream not found")
    val docAt = opsLines.lastIndexWhere(_.trim.startsWith("/**"), defAt)
    val endAt = opsLines.indexWhere(_ == "  }", defAt)
    val hits = for {
      file <- mainSources
      (line, i) <- lines(file).zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield (file, i, line)
    val (allowed, offending) = hits.partition { case (file, i, line) =>
      Files.isSameFile(file, ops) &&
        (line.trim.startsWith("import ") || (i >= docAt && i <= endAt))
    }
    assert(offending.isEmpty, offending.map { case (f, i, l) => s"$f:${i + 1}: ${l.trim}" }
      .mkString("second stateful runtime in src/main:\n", "\n", ""))
    assert(allowed.exists(_._3.contains(".flatMapGroupsWithState(")),
      "emaStream must stay on flatMapGroupsWithState (the benchmark's reference arm)")
  }

  test("graft.streaming has three StatefulProcessors: the fold, the EMA arm and the alarm demo") {
    // the training-data operators in graft.llm keep their own processors;
    // the csp twins all share TwsOps.FoldProcessor
    val header = "class (\\w+)(?:(?!class )[^{])*?extends StatefulProcessor".r
    val found = mainSources.filter(_.toString.contains("/graft/streaming/")).flatMap { file =>
      header.findAllMatchIn(lines(file).mkString("\n"))
        .map(m => s"${file.getFileName}:${m.group(1)}")
    }.toSet
    assert(found == Set("TwsOps.scala:FoldProcessor", "TwsOps.scala:EmaProcessor",
      "TwsOps.scala:TimeoutProcessor"), s"StatefulProcessor subclasses: $found")
  }

  test("entry points: exactly seven objects in src/main define a main") {
    // ProfileQuery is the one per-query profiler: an arm A/B belongs in a
    // spec (equality) plus a ProfileQuery run (timing), not a new main
    val obj = "\\bobject (\\w+)".r
    val mains = mainSources.flatMap { file =>
      var current = ""
      lines(file).flatMap { line =>
        obj.findFirstMatchIn(line).foreach(m => current = m.group(1))
        if (line.contains("def main(") || line.contains("extends App")) Some(current) else None
      }
    }.toSet
    assert(mains == Set("Bench", "Demo", "GenScaleData", "PlanAudit", "ProfileQuery",
      "Verify", "WatchProfile"), s"objects with a main: $mains")
  }
}
