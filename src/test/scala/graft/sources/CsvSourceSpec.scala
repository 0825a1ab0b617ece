package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class CsvSourceSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val d = Paths.get(tempDir("graft_csv"))
    val f = d.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("header CSV with declared schema; types land as declared") {
    val p = write("uol.csv",
      """id,uniq_id,date_time,city_id,city_name,customer_id,first_name,last_name,item_id,item_name,quantity,payment_amount
        |1,a-1,2024-01-01 00:00:00,7,Berlin,42,Ada,Lovelace,5,widget,3,19.99
        |""".stripMargin)
    val df = CsvSource.userOrderLog(spark, p)
    val r = df.collect().head
    assert(df.schema("payment_amount").dataType.typeName == "decimal(14,2)")
    assert(r.getAs[Timestamp]("date_time") ==
      Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(r.getAs[Long]("customer_id") == 42L)
    assert(r.getAs[java.math.BigDecimal]("payment_amount")
      .compareTo(new java.math.BigDecimal("19.99")) == 0)
  }

  test("activity feed drops the positional id column on ingest (S6)") {
    val p = write("ual.csv",
      """id,uniq_id,date_time,action_id,customer_id,quantity
        |9,e1,2024-01-01 10:00:00,1,7,2
        |""".stripMargin)
    val df = CsvSource.userActivityLog(spark, p)
    assert(!df.columns.contains("id"))
    assert(df.count() == 1)
  }

  test("headerless price_log gets manual names (S5 quirk)") {
    val p = write("price.csv", "widget,100\ngadget,250\n")
    val df = CsvSource.priceLog(spark, p)
    assert(df.columns.toSeq == Seq("prod_name", "price"))
    assert(df.count() == 2)
  }

  test("increment schema carries status; CSV feeds drive the retention path") {
    val inc = write("uol_inc.csv",
      """id,uniq_id,date_time,city_id,city_name,customer_id,first_name,last_name,item_id,item_name,quantity,payment_amount,status
        |1,b-1,2024-01-08 00:00:00,7,Berlin,42,Ada,Lovelace,5,widget,1,5.00,refunded
        |""".stripMargin)
    val df = CsvSource.userOrderLogInc(spark, inc)
    assert(df.select("status").collect().head.getString(0) == "refunded")
    // end-to-end: CSV increment → v2 union → refunded classification
    val hist = CsvSource.userOrderLog(spark, write("uol.csv",
      """id,uniq_id,date_time,city_id,city_name,customer_id,first_name,last_name,item_id,item_name,quantity,payment_amount
        |1,a-1,2024-01-01 00:00:00,7,Berlin,42,Ada,Lovelace,5,widget,3,19.99
        |""".stripMargin))
    import org.apache.spark.sql.functions._
    val v2 = hist.withColumn("status", lit("shipped")).unionByName(df)
    val weeks = graft.etl.Retention.weeks(
      v2.select(col("date_time").as("fact_date")))
    val refunded = graft.etl.Retention.refundedCust(
      graft.etl.Retention.withPeriodRange(v2, weeks), includeItem = false)
    assert(refunded.count() == 1)
  }
}
