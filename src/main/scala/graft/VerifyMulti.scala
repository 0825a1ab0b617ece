package graft

import java.nio.file.{Files, Paths}

/** Multi-SF correctness dump — the automation of the "verify at multiple
  * SFs" rule: an sf0.01-only green can be coincidental (r12 found
  * q_knn_mutual green at sf0.01 and red at sf0.1 because a serving-path
  * default happened to coincide with the exact-baseline k inside the
  * smaller top-k lists), so every query carries a committed three-SF
  * record.
  *
  * Usage: `runMain graft.VerifyMulti <outRoot> <query ... | ALL>` — the
  * named queries, or with the literal `ALL` the ENTIRE registry. One output
  * dir per SF (`<outRoot>/sf0.001` …), each in tools/check.py's expected
  * layout, so `python3 tools/check_multi.py <outRoot> <scratch.json>
  * --merge-into CORRECTNESS_multi_full.json` runs the DuckDB compare per SF
  * and merges the per-query statuses into the committed full-registry
  * artifact. VerifyMultiSpec pins that every live query has a fully-green
  * three-SF row there.
  */
object VerifyMulti {

  /** The three driver scale factors, smallest first (cheap fail-fast). */
  val SfDirs: Seq[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val outRoot = args.headOption.getOrElse(
      sys.error("usage: VerifyMulti <outRoot> <query ... | ALL>"))
    val rest = args.drop(1)
    // ALL anywhere in the args selects the whole registry; combining it
    // with explicit names is a usage error, not a query lookup — the
    // sentinel must never silently demote to a (missing) query name
    val names =
      if (rest.contains("ALL")) {
        require(rest.length == 1,
          "ALL selects the entire registry and cannot be combined with " +
            s"query names (got: ${rest.mkString(" ")})")
        SparkEntry.queries.keySet
      }
      else rest.toSet
    require(names.nonEmpty, "no queries to verify: pass names or ALL")
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = SparkEntry.localSession(8)
    val oracleJson = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    var failures = 0
    for (sfDir <- SfDirs) {
      val sf = sfDir.split('/').last // "sf0.001"
      val outDir = s"$outRoot/$sf"
      new java.io.File(outDir).mkdirs()
      sources.TestdataContract.preflightLoud(spark, sfDir)
      SparkEntry.queries
        .filter { case (name, _) => names(name) }
        .foreach { case (name, fn) =>
          Verify.writeResult(spark, outDir, name, fn(spark, sfDir))
            .foreach { _ => failures += 1 }
        }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
      // drop this SF dir's memoized frames before the next SF — a full-
      // registry run would otherwise carry three dirs' persisted frames
      // simultaneously for no reuse benefit (each dir is visited once)
      Caches.invalidateAll(spark)
      println(s"[verify-multi] $sf: ${names.size} queries dumped to $outDir")
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[verify-multi] $failures query runs FAILED")
      sys.exit(1)
    }
  }
}
