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

  test("src/main has four StatefulProcessors, all in TwsOps, and no state handle outside it") {
    // every twin, graft.llm's training-data twins included, is a fold on
    // FoldProcessor or its append-only sibling; the EMA arm and the alarm
    // demo are the only other processors
    val header = "class (\\w+)(?:(?!class )[^{])*?extends StatefulProcessor".r
    val found = mainSources.flatMap { file =>
      header.findAllMatchIn(lines(file).mkString("\n"))
        .map(m => s"${file.getFileName}:${m.group(1)}")
    }.toSet
    assert(found == Set("TwsOps.scala:FoldProcessor", "TwsOps.scala:AppendProcessor",
      "TwsOps.scala:EmaProcessor", "TwsOps.scala:TimeoutProcessor"),
      s"StatefulProcessor subclasses: $found")
    val handles = for {
      file <- mainSources if file.getFileName.toString != "TwsOps.scala"
      (line, i) <- lines(file).zipWithIndex
      if "get(Value|List|Map)State".r.findFirstIn(line).isDefined
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(handles.isEmpty, handles.mkString("state handle outside TwsOps:\n", "\n", ""))
  }

  test("streaming checkpoint settings live only in GraftSession.builder") {
    // the fork-free checkpoint manager and changelog commits are constants
    // of the session, not per-query options that a twin could drop
    val keys = Seq("spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val session = Paths.get("src/main/scala/graft/ts/Tick.scala")
    val sessionLines = lines(session)
    val from = sessionLines.indexWhere(_.contains("def builder("))
    val to = sessionLines.indexWhere(_.contains("def get()"), from)
    assert(from > 0 && to > from, "GraftSession.builder not found")
    keys.foreach { key =>
      val hits = for {
        file <- mainSources
        (line, i) <- lines(file).zipWithIndex
        if line.contains(key)
      } yield (file, i)
      assert(hits.nonEmpty, s"$key is not set")
      val outside = hits.filterNot { case (f, i) => Files.isSameFile(f, session) && i > from && i < to }
      assert(outside.isEmpty, outside.map { case (f, i) => s"$f:${i + 1}" }
        .mkString(s"$key outside GraftSession.builder:\n", "\n", ""))
    }
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

  test("Parquet is read through Sources' resolver, outside a short allowlist") {
    // a builder that read Parquet itself would list, resolve and infer its
    // source again on every build; the allowlist is the fixture re-chunker
    // and the tick-store round trip
    val read = "\\bread(\\.\\w+\\([^)]*\\))*\\.parquet\\(".r
    val member = "^  (?:(?:private|override|final|protected)(?:\\[\\w+\\])? )*def (\\w+)".r
    val allowed = Set("Sources.scala:resolve", "Bench.scala:rechunkFixtures",
      "Sinks.scala:readParquet")
    val hits = mainSources.flatMap { file =>
      val ls = lines(file)
      ls.indices.filter(i => read.findFirstIn(ls(i)).isDefined).map { i =>
        val owner = (i to 0 by -1).iterator.flatMap(j => member.findFirstMatchIn(ls(j)))
          .map(_.group(1)).nextOption().getOrElse("?")
        (s"${file.getFileName}:$owner", s"$file:${i + 1}: ${ls(i).trim}")
      }
    }
    val offending = hits.filterNot { case (site, _) =>
      allowed(site) || allowed(site.takeWhile(_ != ':') + ":*")
    }
    assert(offending.isEmpty, offending.map(_._2).mkString("Parquet read outside Sources:\n", "\n", ""))
    assert(hits.exists(_._1 == "Sources.scala:resolve"), "Sources' resolver no longer reads Parquet")
  }
}
