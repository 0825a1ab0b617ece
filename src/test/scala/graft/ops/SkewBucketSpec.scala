package graft.ops

import graft.SparkSpec
import graft.catalog.Warehouse
import org.apache.spark.sql.functions._

class SkewBucketSpec extends SparkSpec {
  import spark.implicits._

  // 90% of rows share one hot key
  private lazy val skewed = (1 to 2000).map { i =>
    (if (i <= 1800) 1L else i.toLong, s"r$i", i.toLong)
  }.toDF("key", "id", "v")
  private lazy val dim = Seq((1L, "hot"), (1900L, "cold"), (1950L, "cold2"))
    .toDF("key", "name")

  test("salted aggregation equals direct aggregation") {
    val direct = skewed.groupBy("key").agg(sum("v").as("sum_v"))
      .as[(Long, Long)].collect().toMap
    val salted = Skew.saltedSum(skewed, "key", "v", col("id"))
      .as[(Long, Long)].collect().toMap
    assert(salted == direct)
  }

  test("salted join equals plain join and spreads the hot key") {
    val plain = skewed.join(dim, Seq("key"))
      .select("id", "name").as[(String, String)].collect().sorted
    val salted = Skew.saltedJoin(skewed, dim, "key", col("id"))
      .select("id", "name").as[(String, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
    // the salt column takes many distinct values for the hot key
    val saltSpread = skewed.where($"key" === 1L)
      .withColumn("s", pmod(hash(col("id")), lit(16)))
      .select("s").distinct().count()
    assert(saltSpread > 10)
  }

  test("bucketed tables join without a shuffle exchange") {
    val root = tempDir("graft_bkt")
    val wh = new Warehouse(spark, root)
    val facts = (1 to 10000).map(i => (i.toLong % 500, i.toLong))
      .toDF("key", "v")
    val dims = (0L until 500L).map(k => (k, s"d$k")).toDF("key", "name")
    wh.bucketedOverwrite("mart", "facts_b", facts, "key", 8)
    wh.bucketedOverwrite("mart", "dims_b", dims, "key", 8)
    val joined = wh.readTable("mart", "facts_b")
      .join(wh.readTable("mart", "dims_b"), Seq("key"))
    // disable auto-broadcast so the co-located sort-merge path is chosen
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
      assert(joined.count() == 10000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
