package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * A query that throws must leave a VISIBLE artifact, not a silent
  * omission (round 8: 22 queries crashed in analysis, Verify wrote
  * nothing for them, and the correctness report shrank from 101 to 79
  * rows with every remaining row green — missing coverage read as a
  * clean pass). On failure [[writeResult]] writes a 1-row parquet whose
  * only column is `_verify_error` carrying the exception, so the driver's
  * DuckDB compare yields a schema/row MISMATCH entry for that query
  * instead of dropping it, and the error text travels inside the
  * artifact itself. The failure roster is also dumped as
  * `verify_errors.json` (empty object = all queries ran).
  */
object Verify {

  /** Run one query and write its parquet; on failure write the
    * `_verify_error` sentinel instead and return the message. */
  private[graft] def writeResult(spark: SparkSession, outDir: String,
                                 name: String,
                                 fn: => DataFrame): Option[String] =
    try {
      fn.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val msg = describe(e)
      System.err.println(s"[verify] $name failed: $msg")
      try {
        import spark.implicits._
        Seq(msg).toDF("_verify_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name: error sentinel write also " +
          s"failed: ${e2.getMessage}")
      }
      Some(msg)
    }

  /** `Class: message` of a failure; getMessage can be null (bare NPE/ISE),
    * so fall back to toString and carry a signal, not "SomeException: null". */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse(e.toString)}"

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (local iteration; the
    // driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = SparkEntry.localSession(4)
    new java.io.File(outDir).mkdirs()
    // Preflight BEFORE any query: a regenerated input table surfaces here
    // as one message naming table+column, ahead of whatever downstream
    // crashes it causes (non-fatal — adapted drift still runs green).
    // The dataset identity (schema hash + rows per table) lands beside
    // the outputs so the driver's artifact is tied to the data it saw.
    val drift = sources.TestdataContract.preflightLoud(spark, sfDir)
    val driftJson = drift
      .map { case (t, c, d) => s"${q(s"$t.$c")}: ${q(d)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/dataset.json"),
      s"""{"tables":${sources.TestdataContract.fingerprintJson(spark, sfDir)},""" +
      s""""drift":$driftJson}""")
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        writeResult(spark, outDir, name, fn(spark, sfDir))
          .foreach(failed += name -> _)
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure roster beside the outputs (empty = all ran)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${SparkEntry.queries.size}" +
        s" queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
