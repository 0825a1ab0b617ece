package graft.etl

import graft.SparkSpec
import java.sql.Timestamp
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for multi-day increment catchup (reference catchup=True):
  * id continuation and per-step idempotency across N ∈ {2, 5} batches. */
class CatchupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int) =
    Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")

  /** (uniq_id, day, amount) rows: unique ids, days 0..27. */
  private val rowsGen: Gen[List[(Int, Double)]] =
    Gen.chooseNum(20, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 27), Gen.chooseNum(0.0, 99.0))))

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  private def runCatchup(data: List[(Int, Double)], nBatches: Int) = {
    // unique ids; batches = contiguous day ranges (dated increments)
    val rows = data.zipWithIndex.map { case ((day, amt), i) =>
      (s"u$i", ts(day), amt)
    }
    val batches = rows.sortBy(_._2.getTime).grouped(
      math.max(1, (rows.size + nBatches - 1) / nBatches)).toList
      .take(nBatches)
      .map(_.toDF("uniq_id", "date_time", "amount"))
    val result = Catchup.applyAll(batches.head, batches.tail)
      .select("id", "uniq_id").as[(Long, String)].collect()
    (rows, batches, result)
  }

  for (n <- Seq(2, 5))
    test(s"catchup over $n batches: dense continued ids, no loss, no dup") {
      check(Prop.forAll(rowsGen) { data =>
        val (rows, batches, result) = runCatchup(data, n)
        val nTotal = batches.map(_.count()).sum
        val idsDense =
          result.map(_._1).sorted.toSeq == (1L to nTotal).toSeq
        val allRows = result.map(_._2).toSet ==
          batches.flatMap(_.select("uniq_id").as[String].collect()).toSet
        // batch k's ids all precede batch k+1's (sequence continuation)
        val idOf = result.map { case (id, uid) => uid -> id }.toMap
        val maxPerBatch = batches.map(
          _.select("uniq_id").as[String].collect().map(idOf).max)
        val ordered = maxPerBatch.zipWithIndex.forall { case (mx, i) =>
          i == 0 || mx > maxPerBatch(i - 1)
        } && maxPerBatch.zipWithIndex.forall { case (mx, i) =>
          // max of batch i == total rows through batch i (dense per batch)
          mx == batches.take(i + 1).map(_.count()).sum
        }
        idsDense && allRows && ordered
      })
    }

  for (mode <- Seq("local", "reliable"))
    test(s"20 batches, constant-depth plans ($mode memo mode)") {
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(2),
        Prop.forAll(rowsGen) { data =>
          val rows = data.zipWithIndex.map { case ((day, amt), i) =>
            (s"u$i", ts(day), amt)
          }
          val batches = rows.sortBy(_._2.getTime)
            .grouped(math.max(1, (rows.size + 19) / 20)).toList.take(20)
            .map(_.toDF("uniq_id", "date_time", "amount"))
          def ids(df: org.apache.spark.sql.DataFrame) =
            df.select("id", "uniq_id").as[(Long, String)].collect().sorted.toSeq
          val want = ids(Catchup.applyAll(batches.head, batches.tail))
          def fold() = {
            val acc = Catchup.applyAll(batches.head, batches.tail)
            // after any number of folds the accumulator is ONE leaf, not
            // a nested union tree
            (acc.queryExecution.analyzed.collectLeaves().size, ids(acc))
          }
          val (leaves, got) =
            if (mode == "reliable") withReliableMemo(fold()) else fold()
          leaves == 1 && got == want && got.nonEmpty
        })
      assert(res.passed, res.status.toString)
    }

  test("re-applying an already-applied increment is a no-op (idempotency)") {
    check(Prop.forAll(rowsGen) { data =>
      val (_, batches, result) = runCatchup(data, 3)
      val acc = Catchup.applyAll(batches.head, batches.tail)
      val again = Catchup.applyOne(acc, batches.last)
        .select("id", "uniq_id").as[(Long, String)].collect()
      again.sortBy(_._1).toSeq == result.sortBy(_._1).toSeq
    })
  }
}
