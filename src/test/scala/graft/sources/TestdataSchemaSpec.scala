package graft.sources

import graft.SparkSpec
import graft.etl.Feeds
import org.apache.spark.sql.types._

/** Tripwire for driver-side testdata regeneration (round 8: events.ts
  * silently changed from TIMESTAMP(NANOS) to micros TIMESTAMP_NTZ and 22
  * pipeline queries crashed in analysis — the failure surfaced as holes
  * in downstream artifacts, not as a named schema drift). The pins
  * themselves live in [[TestdataContract]] (single source of truth: the
  * same checks run as a preflight inside `Verify.main` and perfbench);
  * this spec asserts they hold for the current testdata AND that the
  * preflight actually names table+column on seeded drift.
  *
  * If the contract tests fail after a testdata refresh: the generator
  * changed a schema. Check every reader of that column (grep the column
  * name), adapt them the way Feeds.normalizeEventTs adapts `ts`, then
  * update the pin to the new shape.
  */
class TestdataSchemaSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  for (t <- TestdataContract.tables)
    test(s"$t.parquet matches the pinned reader contract") {
      val drift = TestdataContract.checkTable(spark, dir, t)
      assert(drift.isEmpty, "testdata schema drift:\n" +
        drift.map { case (tb, c, d) => s"  $tb.$c: $d" }.mkString("\n"))
    }

  test("events.parquet loads through Feeds.events in any known ts vintage") {
    // events has its own multi-vintage contract (nanos-as-long, NTZ,
    // TimestampType) — normalizeEventTs either adapts or fails loud, and
    // FeedsEventsSpec covers each arm; here we pin the NORMALIZED frame
    val ev = Feeds.events(spark, dir)
    val pins = Map("event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType, "ts" -> TimestampType)
    for ((colName, want) <- pins)
      assert(ev.schema(colName).dataType == want,
        s"testdata schema drift: events.$colName is " +
        s"${ev.schema(colName).dataType}, engine expects $want")
  }

  test("preflight names table and column on seeded drift") {
    val tmp = tempDir("contract_spec")
    import org.apache.spark.sql.functions._
    // orders with o_orderkey as STRING — a type outside the pinned set
    spark.range(3)
      .select(col("id").cast("string").as("o_orderkey"),
        col("id").as("o_custkey"), lit("O").as("o_orderstatus"),
        lit(1.0).as("o_totalprice"),
        current_timestamp().as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
      .write.parquet(s"$tmp/orders.parquet")
    val drift = TestdataContract.checkTable(spark, tmp, "orders")
    assert(drift.size == 1)
    val (t, c, detail) = drift.head
    assert(t == "orders" && c == "o_orderkey")
    assert(detail.contains("orders.o_orderkey") &&
      detail.contains("StringType") && detail.contains("expects"))
    // an unreadable table reports (table, "*", why), not an exception
    val unread = TestdataContract.checkTable(spark, tmp, "nation")
    assert(unread.size == 1 && unread.head._1 == "nation" &&
      unread.head._2 == "*")
  }

  test("preflight names a MISSING pinned column (r10 ADVICE: the branch was untested)") {
    val tmp = tempDir("contract_spec_miss")
    import org.apache.spark.sql.functions._
    // orders WITHOUT o_orderpriority — a dropped pinned column must be
    // reported via checkTable's `case None` arm, which the retyped-only
    // fixture above never reaches
    spark.range(3)
      .select(col("id").as("o_orderkey"), col("id").as("o_custkey"),
        lit("O").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
        current_timestamp().as("o_orderdate"))
      .write.parquet(s"$tmp/orders.parquet")
    val drift = TestdataContract.checkTable(spark, tmp, "orders")
    assert(drift.size == 1, drift)
    assert(drift.head._1 == "orders" && drift.head._2 == "o_orderpriority")
    assert(drift.head._3.contains("missing"), drift.head._3)
  }

  test("year-window preflight names a decade-shifted regeneration") {
    val tmp = tempDir("contract_spec_shift")
    import org.apache.spark.sql.functions._
    // orders that are TYPE-correct but sit in the 2070s — the schema
    // check passes, the value-window check must name the drift
    spark.range(3)
      .select(col("id").as("o_orderkey"), col("id").as("o_custkey"),
        lit("O").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
        (current_timestamp() + expr("INTERVAL '50' YEAR"))
          .as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
      .write.parquet(s"$tmp/orders.parquet")
    assert(TestdataContract.checkTable(spark, tmp, "orders").isEmpty,
      "fixture must be schema-clean; only its VALUES drift")
    val drift = TestdataContract.yearWindowViolations(spark, tmp)
    val hit = drift.find(d => d._1 == "orders" && d._2 == "o_orderdate")
    assert(hit.isDefined, s"shifted o_orderdate not reported: $drift")
    assert(hit.get._3.contains("outside the pinned window"), hit.get._3)
    // the other pinned columns are absent in this dir — they must
    // report unreadable/missing, not crash the preflight
    assert(drift.forall(_._3.nonEmpty))
  }

  test("year-window preflight is clean on the current testdata") {
    assert(TestdataContract.yearWindowViolations(spark, dir).isEmpty)
  }

  test("preflight is clean on the current testdata") {
    assert(TestdataContract.preflight(spark, dir).isEmpty)
  }

  test("fingerprint is deterministic, covers every table, and tracks schema") {
    val fp1 = TestdataContract.fingerprintJson(spark, dir)
    val fp2 = TestdataContract.fingerprintJson(spark, dir)
    assert(fp1 == fp2)
    for (t <- TestdataContract.tables)
      assert(fp1.contains(s""""$t":{"schema":""""), s"missing $t in $fp1")
    assert(fp1.contains(""""rows":"""))
    // schema hash moves when a type changes
    val a = TestdataContract.schemaHash(StructType(Seq(
      StructField("x", LongType))))
    val b = TestdataContract.schemaHash(StructType(Seq(
      StructField("x", StringType))))
    assert(a != b && a.length == 8)
  }
}
