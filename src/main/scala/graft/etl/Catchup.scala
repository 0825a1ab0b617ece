package graft.etl

import graft.Memo.TruncateOps
import graft.{Ids, Memo}
import org.apache.spark.sql.DataFrame

/** Multi-day increment catchup — the reference DAG runs daily with
  * `catchup=True` (/root/reference/src/dags/ETL_logs_inc.py:287-289), i.e.
  * N dated increments applied IN ORDER, with the live PG sequences handing
  * out ids that continue across every batch.
  *
  * Spark model: a fold over batches. Each step assigns dense ids to the
  * batch's NEW rows (two-phase [[graft.Ids.dense]], offset = accumulated
  * row count — valid because ids stay dense 1..n) and appends. Re-applying
  * a batch is a no-op: rows already present (by `uniq_id`) are dropped with
  * an anti-join before id assignment — the reference's one stated
  * correctness property ("re-run must not duplicate",
  * /root/reference/README.md:20-22) holds per step, not just per run.
  */
object Catchup {

  /** Id-assignment sort key within a batch (same pin as f_sales). */
  private val sortCols = Seq("date_time", "uniq_id")

  /** Assign ids to `history` and fold the dated `increments` over it in
    * order. All inputs carry `uniq_id` + `date_time` and identical schemas.
    *
    * The accumulator is truncated once per step ([[graft.Memo.truncate]])
    * — without it every fold step re-executes the whole accumulated plan
    * (the offset count AND the anti-join probe), O(batches²) work with
    * ever-deepening plans. Each step's plan is then one leaf deep; under
    * the `reliable` memo mode that leaf is a file-backed checkpoint, which
    * survives executor loss on a long cluster catchup. The previous
    * step's blocks are released once the next step exists, so a long
    * catchup holds O(1) executor storage, not O(#increments). */
  def applyAll(history: DataFrame, increments: Seq[DataFrame]): DataFrame = {
    var acc = Ids.dense(history, sortCols, "id").truncated
    increments.foreach { inc =>
      val next = applyOne(acc, inc).truncated
      Memo.release(acc) // next is fully materialized; acc's blocks are dead
      acc = next
    }
    acc
  }

  /** One catchup step: drop rows the accumulated log already has (re-run
    * idempotency), id the rest from the accumulated count, append. The
    * caller materializes `acc` between steps ([[applyAll]]); the count here
    * then reads the materialized blocks, not the whole re-derived plan. */
  def applyOne(acc: DataFrame, inc: DataFrame): DataFrame = {
    val nextOffset = acc.count() // ids are dense, so count == max id
    val fresh = inc.join(acc.select("uniq_id"), Seq("uniq_id"), "left_anti")
      .select(inc.columns.map(inc.col): _*)
    acc.unionByName(Ids.dense(fresh, sortCols, "id", nextOffset))
  }
}
