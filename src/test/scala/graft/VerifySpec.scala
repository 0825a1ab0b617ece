package graft

import org.apache.spark.sql.functions._

/** Pins Verify's failure-visibility contract (the round-8 lesson: a
  * crashing query must produce a mismatching ARTIFACT, not vanish from
  * the correctness report). */
class VerifySpec extends SparkSpec {

  test("writeResult writes the query result parquet and returns None") {
    val out = tempDir("verify_spec")
    val err = Verify.writeResult(spark, out, "q_ok",
      spark.range(3).select(col("id").as("n")))
    assert(err.isEmpty)
    val back = spark.read.parquet(s"$out/q_ok")
    assert(back.columns.toSeq == Seq("n") && back.count() == 3)
  }

  test("a throwing query leaves a _verify_error sentinel, not an omission") {
    val out = tempDir("verify_spec")
    // analysis-time failure, the exact r8 shape (unresolvable column)
    val err = Verify.writeResult(spark, out, "q_boom",
      spark.range(3).select(col("no_such_column")))
    assert(err.isDefined)
    val sentinel = spark.read.parquet(s"$out/q_boom")
    assert(sentinel.columns.toSeq == Seq("_verify_error"))
    assert(sentinel.count() == 1)
    // the error text travels inside the artifact
    val msg = sentinel.head().getString(0)
    assert(msg == err.get && msg.nonEmpty)
  }

  test("a null exception message falls back to toString, not 'null'") {
    val out = tempDir("verify_spec")
    // bare ISE carries a null message — the sentinel must still say
    // which exception it was, not "IllegalStateException: null"
    val err = Verify.writeResult(spark, out, "q_npe",
      throw new IllegalStateException())
    assert(err.isDefined)
    assert(!err.get.endsWith(": null"), err.get)
    assert(err.get ==
      "IllegalStateException: java.lang.IllegalStateException")
  }

  test("json escape covers quotes, backslashes, and control chars") {
    assert(Verify.q("a\"b\\c\nd\te") == "\"a\\\"b\\\\c\\nd\\te\"")
    assert(Verify.q("\u0001") == "\"\\u0001\"")
  }
}
