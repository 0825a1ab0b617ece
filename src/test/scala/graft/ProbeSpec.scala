package graft

import org.apache.spark.sql.functions.{col, udf}

/** Pins what `graft.Probe` times: the full result, not `count()`. */
class ProbeSpec extends SparkSpec {

  test("a timed op computes every column, where count() prunes it") {
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException("boom column computed")
      id
    })
    val df = spark.range(3).withColumn("boom", boom(col("id")))
    // count() needs no column, so Catalyst prunes the throwing projection
    assert(df.count() == 3)
    val op = Probe.timeOp(df)
    assert(op.error.exists(_.contains("boom column computed")), op)
    assert(Probe.jsonLine("x", 1, op).contains("\"ok\":false"))
    assert(Probe.timeOp(spark.range(3).toDF()).error.isEmpty)
  }

  test("an unknown name is rejected before any session work") {
    val e = intercept[IllegalArgumentException] {
      Probe.run(Array("/nonexistent", "q_user_order_log,q_no_such_query,dag"),
        fail("session built before the names were checked"))
    }
    assert(e.getMessage.contains("q_no_such_query"), e.getMessage)
    assert(!e.getMessage.contains("unknown names: q_user_order_log"))
  }
}
