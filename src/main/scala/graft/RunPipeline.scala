package graft

import graft.catalog.{PipelineRunner, Warehouse}

/** CLI entry point equivalent to one reference DAG run
  * (/root/reference/src/dags/ETL_logs_inc.py dag_id='v1'): materializes all
  * staging + mart tables for an sf-dir into a warehouse directory.
  *
  *   sbt "runMain graft.RunPipeline <sfDir> <warehouseRoot>"
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, root) = args.take(2)
    val spark = SparkEntry.localSession(32)
    val t0 = System.nanoTime()
    val wh: Warehouse = PipelineRunner.run(spark, sfDir, root)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] completed in $dt%.1fs; mart tables:")
    PipelineRunner.martTables.foreach { t =>
      println(f"[pipeline]   mart.$t%-24s ${wh.read("mart", t).count()}%8d rows")
    }
    spark.stop()
  }
}
