package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Bench harness self-audit: a failing query must surface an `err` record
  * (not a silent -1 sample), and the rendered record must keep the
  * medians map on its own final line — the driver reads from the tail and
  * has truncated the HEAD of long lines in past rounds. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).toDF("v")
  private val broken: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("deliberately broken")

  test("measure records per-query errors instead of swallowing them") {
    val suite = Seq("z_ok" -> good, "z_broken" -> broken)
    val rs = Bench.measure(spark, suite, TestSpark.sf, iters = 2)
    val byName = rs.map(r => r.name -> r).toMap
    assert(byName("z_ok").err.isEmpty)
    assert(byName("z_ok").median >= 0.0)
    val b = byName("z_broken")
    assert(b.err.isDefined, "broken query must carry an err")
    assert(b.err.get.contains("IllegalStateException"))
    assert(b.err.get.contains("deliberately broken"))
    assert(b.errCount == 2, "every failing sample counted")
  }

  test("renderLines: short per-query lines, medians-only summary last") {
    val rs = Seq(
      Bench.QueryResult("z_ok", 0.1234, 0.1111, None, 0),
      Bench.QueryResult("z_broken", 0.0010, 0.0009, Some("IllegalStateException: x"), 2))
    val lines = Bench.renderLines(rs, iters = 2, sfDir = "/tmp/sf")
    assert(lines.length == 3)
    assert(lines(0) == """{"bench_query":"z_ok","median":0.1234,"min":0.1111}""")
    assert(lines(1).contains(""""err":"IllegalStateException: x""""))
    assert(lines(1).contains(""""err_count":2"""))
    val last = lines.last
    assert(last.startsWith("""{"metric":"total""""))
    assert(last.contains(""""errors":{"z_broken":2}"""))
    // the medians map is the LAST key before sf — nothing after it can
    // push it into a head truncation window (name-sorted for stable diffs)
    assert(last.contains(""""queries":{"z_broken":0.0010,"z_ok":0.1234}"""))
    assert(!last.contains("queries_min"), "min map moved to per-query lines")
  }

  test("summary line stays inside the driver's ~2 KB tail at 300+ queries") {
    // BENCH_r04–r12 all recorded `"parsed": null`: the full 300-median
    // map (~7 KB) pushed `{"metric":…` past the tail window. The summary
    // must bound its map (flagship + slowest N) and keep the LINE short.
    val rs = (1 to 320).map(i =>
      Bench.QueryResult(f"q_some_longish_name_$i%03d", i * 0.01, i * 0.009, None, 0))
    val last = Bench.renderLines(rs, iters = 3, sfDir = "/tmp/sf0.1").last
    assert(last.startsWith("""{"metric":"total""""))
    assert(last.length < 1800, s"summary line too long for tail capture: ${last.length}")
    // slowest query must be visible; fastest must have been dropped
    assert(last.contains("q_some_longish_name_320"))
    assert(!last.contains(""""q_some_longish_name_001""""))
    // totals still cover ALL queries, not just the visible map
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = mapper.readTree(last)
    assert(root.path("n_queries").asInt == 320)
    assert(math.abs(root.path("value").asDouble - rs.map(_.median).sum) < 1e-6)
  }

  test("renderLines omits errors map when clean") {
    val rs = Seq(Bench.QueryResult("q", 1.0, 0.9, None, 0))
    val last = Bench.renderLines(rs, 3, "/tmp/sf").last
    assert(!last.contains("errors"))
  }

  test("writeRecordFile persists a parseable full record (r10 driver-truncation fix)") {
    val rs = Seq(
      Bench.QueryResult("z_ok", 0.1234, 0.1111, None, 0, Vector(0.2, 0.1234, 0.1111)),
      Bench.QueryResult("z_broken", 0.001, 0.0009, Some("IllegalStateException: x"), 2, Vector(0.001, 0.0009)))
    val out = java.nio.file.Files.createTempDirectory("benchrec").resolve("sub/medians.json")
    Bench.writeRecordFile(rs, iters = 3, sfDir = "/tmp/sf", out = out.toString)
    val txt = java.nio.file.Files.readString(out)
    // strict JSON — the whole point is a record a driver/judge can parse
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = mapper.readTree(txt)
    assert(root.path("n_queries").asInt == 2)
    assert(root.path("sf").asText == "/tmp/sf")
    assert(root.path("queries").path("z_ok").path("median").asDouble == 0.1234)
    assert(root.path("queries").path("z_ok").path("samples").size == 3)
    assert(root.path("queries").path("z_broken").path("err").asText.contains("IllegalStateException"))
    assert(root.path("queries").path("z_broken").path("err_count").asInt == 2)
    assert(math.abs(root.path("total_sec").asDouble - 0.1244) < 1e-9)
  }

  test("writeRecordFile never writes the per-core twin: a filtered run cannot clobber medians_c*.json") {
    // a filtered run pointed (by SPARK_GRAFT_BENCH_OUT) at a
    // medians_latest.json path must leave the per-core records alone;
    // only the full-suite branch of main writes the twin
    val dir = java.nio.file.Files.createTempDirectory("benchtwin")
    val out = dir.resolve("medians_latest.json")
    val rs = Seq(Bench.QueryResult("q_one", 0.5, 0.4, None, 0, Vector(0.5, 0.4)))
    Bench.writeRecordFile(rs, iters = 2, sfDir = "/tmp/sf", out = out.toString, cpus = 8)
    val written = java.nio.file.Files.list(dir).toArray.map(_.toString.split('/').last).toSet
    assert(written == Set("medians_latest.json"), s"unexpected record files: $written")
  }
}
