package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The recorder's attribution: work the harness does to check an
  * operation's output must not count as the operation's.
  */
class RecorderSpec extends AnyFunSuite {

  test("an output check leaves the operation's per-layer counters unchanged") {
    val spark = graft.Engine.session("2", "perfbench-test")
    try {
      val rec = new Recorder(spark, traced = true)
      val sc = spark.sparkContext
      rec.current = "op"
      sc.setJobGroup("op", "op")
      spark.range(1000).selectExpr("sum(id)").collect()
      sc.clearJobGroup()
      rec.drain()
      val plan0 = rec.planOf("op").toMap
      val exec0 = rec.execOf("op").toMap
      assert(plan0("executions") == 1L)
      assert(exec0("jobs") != 0L)

      val rows = rec.outside(spark.range(1000).selectExpr("sum(id) AS s").collect())
      rec.drain()
      assert(rows.head.getLong(0) == 499500L)
      assert(rec.planOf("op").toMap == plan0)
      assert(rec.execOf("op").toMap == exec0)
      assert(rec.planOf(Recorder.CheckGroup).executions == 1L)
      assert(rec.execOf(Recorder.CheckGroup).jobs != 0L)
      assert(rec.current == "op")
    } finally spark.stop()
  }
}
