package graft.etl

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class RetentionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  // Two ISO weeks: Mon 2024-01-01..2024-01-07, Mon 2024-01-08..
  private lazy val calendar = Seq(
    ts("2024-01-01"), ts("2024-01-02"), ts("2024-01-03"),
    ts("2024-01-08"), ts("2024-01-09")).toDF("fact_date")

  private lazy val weeks = Retention.weeks(calendar)

  // (customer, date, item, amount, status):
  //  c1: one shipped order in week 1      -> new
  //  c2: two shipped orders same day/item -> returning
  //  c3: refunded twice same day/item     -> refunded
  //  c4: order OUTSIDE any calendar week  -> NULL period (H4)
  private lazy val uolV2 = Seq(
    (1L, ts("2024-01-01"), 10, BigDecimal("10.00"), "shipped"),
    (2L, ts("2024-01-02"), 10, BigDecimal("5.00"), "shipped"),
    (2L, ts("2024-01-02"), 10, BigDecimal("7.00"), "shipped"),
    (3L, ts("2024-01-08"), 20, BigDecimal("3.00"), "refunded"),
    (3L, ts("2024-01-08"), 20, BigDecimal("4.00"), "refunded"),
    (4L, ts("2024-03-01"), 30, BigDecimal("9.00"), "shipped"))
    .toDF("customer_id", "date_time", "item_id", "payment_amount", "status")

  test("weeks are disjoint, ordered, 1-based") {
    val w = weeks.orderBy("period")
      .select("period", "start_date", "end_date")
      .as[(Long, Timestamp, Timestamp)].collect()
    assert(w.map(_._1).toSeq == Seq(1L, 2L))
    assert(w.forall { case (_, s, e) => !s.after(e) })
    // non-overlapping
    assert(w.sliding(2).forall {
      case Array((_, _, e1), (_, s2, _)) => e1.before(s2)
      case _ => true
    })
  }

  test("range join keeps NULL period for out-of-window orders (H4)") {
    val p = Retention.withPeriodRange(uolV2, weeks)
    val c4 = p.where($"customer_id" === 4L).select("period").collect()
    assert(c4.length == 1 && c4.head.isNullAt(0))
    assert(p.count() == uolV2.count())
  }

  test("new vs returning split is a disjoint partition (A4/A5)") {
    val p = Retention.withPeriodRange(uolV2, weeks)
    val n = Retention.newCust(p, includeItem = true)
    val r = Retention.returnedCust(p, includeItem = true)
    val newRows = n.select("period", "item_new", "new_cust_count",
                           "new_cust_revenue").collect()
    // c1 new in week 1 (10.00); c4 new with NULL period (9.00)
    assert(n.count() == 2)
    assert(newRows.exists(x => !x.isNullAt(0) && x.getLong(0) == 1L
      && x.getInt(1) == 10 && x.getLong(2) == 1L))
    val ret = r.collect()
    assert(ret.length == 1) // c2 only
    assert(r.select(sum("returned_revenue")).as[BigDecimal].head() ==
      BigDecimal("12.00"))
  }

  test("refund counting uses count(*) semantics (A6)") {
    val p = Retention.withPeriodRange(uolV2, weeks)
    val f = Retention.refundedCust(p, includeItem = true)
    val row = f.collect().head
    assert(f.count() == 1)
    assert(row.getAs[Long]("cust_with_refunds") == 1L)
    assert(row.getAs[Long]("total_refunds") == 2L)
  }

  test("full-outer USING(period) coalesces the key (J2)") {
    val p = Retention.withPeriodRange(uolV2, weeks)
    val m = Retention.retentionCompact(
      Retention.newCust(p, false), Retention.returnedCust(p, false),
      Retention.refundedCust(p, false))
    // periods: 1 (new+ret), 2 (refund only), null (c4)
    val periods = m.select("period").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(periods == Set(Some(1L), Some(2L), None))
    val wk2 = m.where($"period" === 2L).collect().head
    assert(wk2.isNullAt(wk2.fieldIndex("new_cust_count")))
    assert(wk2.getAs[Long]("cust_with_refunds") == 1L)
  }

  test("fast-path week-bucket join ≡ literal range join on real data") {
    val p = new Pipeline(spark, "/root/testdata/sf0.001")
    val fast = Retention.withPeriod(p.uolV2, p.weeks)
      .select("uniq_id", "period")
    val slow = Retention.withPeriodRange(p.uolV2, p.weeks)
      .select("uniq_id", "period")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("pipeline is idempotent under re-run (reference README property)") {
    val dir = "/root/testdata/sf0.001"
    // the staging grains are shared per (session, dir): drop them so the
    // re-run rebuilds every frame instead of reusing the first run's
    val a = new Pipeline(spark, dir).retentionCompact.collect()
    graft.Caches.invalidate(spark, dir)
    val b = new Pipeline(spark, dir).retentionCompact.collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
  }
}
