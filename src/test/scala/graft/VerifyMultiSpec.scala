package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the multi-SF correctness gate: every live query must carry a
  * fully-green three-SF row in the committed CORRECTNESS_multi_full.json —
  * the automation of the "sf0.01-only greens can be coincidental" rule.
  * The rows come from `runMain graft.VerifyMulti <outRoot> <names | ALL>` +
  * `python3 tools/check_multi.py <outRoot> <scratch.json> [round]
  * --merge-into CORRECTNESS_multi_full.json`.
  */
class VerifyMultiSpec extends AnyFunSuite {

  test("the FULL registry carries a committed three-SF green row " +
       "(CORRECTNESS_multi_full.json, r14 verdict task 1)") {
    // rounds 1-12's queries were only ever correctness-checked at sf0.01
    // (the driver gate); this artifact is the one-time full-registry
    // three-SF run, kept in lockstep with the registry from round 15 on:
    // `runMain graft.VerifyMulti /tmp/vmulti_full ALL` +
    // `python3 tools/check_multi.py /tmp/vmulti_full CORRECTNESS_multi_full.json <round>`
    val path = java.nio.file.Paths.get("CORRECTNESS_multi_full.json")
    assert(java.nio.file.Files.exists(path),
      "CORRECTNESS_multi_full.json missing: run VerifyMulti ALL + check_multi")
    val text = java.nio.file.Files.readString(path)
    val rows = "\"(q_\\w+)\"\\s*:\\s*\\{([^}]*)\\}".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    val live = SparkEntry.queries.keySet
    val missing = (live -- rows.keySet).toSeq.sorted
    assert(missing.isEmpty,
      s"registry queries without a full three-SF row: $missing " +
        "(run VerifyMulti on them and merge the rows with check_multi.py " +
        "--merge-into CORRECTNESS_multi_full.json)")
    val stale = (rows.keySet -- live).toSeq.sorted
    assert(stale.isEmpty, s"stale CORRECTNESS_multi_full.json rows: $stale")
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    val red = rows.collect { case (n, body)
        if sfs.exists(sf => !body.contains(s""""$sf": "ok"""")) => n }
    assert(red.isEmpty, s"non-green three-SF rows: ${red.toSeq.sorted}")
  }
}
