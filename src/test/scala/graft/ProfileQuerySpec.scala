package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** ProfileQuery's record: the planning and execution layers of one real
  * query, stable across repeated profiles in one session, and an `err`
  * record for a query that throws without stopping the others. */
class ProfileQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val q = "q_sample_asof"

  private def profileOnce(): ProfileQuery.Record =
    ProfileQuery.profile(spark, Seq(q -> SparkEntry.queries(q)), TestSpark.sf).head

  test("record carries the planning, stage and census fields") {
    val r = profileOnce()
    assert(r.err.isEmpty, r.err)
    assert(r.fields.map(_._1) == Seq("entry.build_s", "plan.analysis_s",
      "plan.optimization_s", "plan.planning_s", "exec.wall_s", "exec.stages", "exec.tasks",
      "exec.cpu_s", "exec.run_s", "exec.parallelism", "exec.shuffle_read_bytes",
      "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.task_skew", "census.exchanges"))
    assert(r("exec.stages") >= 1)
    assert(r("exec.tasks") >= r("exec.stages"))
    assert(r("plan.optimization_s") > 0)
    assert(r("exec.task_skew") >= 1.0)
    assert(r.profile.exists(_.nodes.nonEmpty))
    assert(r.json.startsWith(s"""{"profile_query":"$q","entry.build_s":"""))
  }

  test("profiling the same query twice reports the same stage count") {
    // a listener left registered by the first profile would add its
    // stages to the second
    val a = profileOnce()
    val b = profileOnce()
    assert(a("exec.stages") == b("exec.stages"))
    assert(a("census.exchanges") == b("census.exchanges"))
  }

  test("a throwing builder yields an err record and the next query is still profiled") {
    val broken: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately broken")
    val rs = ProfileQuery.profile(spark,
      Seq("z_broken" -> broken, q -> SparkEntry.queries(q)), TestSpark.sf)
    assert(rs.map(_.name) == Seq("z_broken", q))
    assert(rs.head.json ==
      """{"profile_query":"z_broken","err":"IllegalStateException: deliberately broken"}""")
    assert(rs.head.profile.isEmpty)
    assert(rs(1).err.isEmpty)
    assert(rs(1)("exec.stages") >= 1)
  }
}
