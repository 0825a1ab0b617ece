package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching (entity resolution) over part names: candidate
  * pairs must share a cheap deterministic blocking key, then are verified
  * with exact Levenshtein edit distance. The classic two-phase ER shape —
  * blocking bounds the candidate set, the verifier keeps only true fuzzy
  * matches.
  *
  * Scale shape: the match runs over the DISTINCT-name table (an aggregation
  * first — |names| ≪ |parts|, and each name carries its part count), the
  * block join is a key-equi shuffle on the blocking key, and the quadratic
  * work is confined within blocks. At 100 TB the knobs are (a) a finer
  * blocking key (add a length band / second token — at the cost of recall
  * across the band boundary, exactly like LSH banding) and (b) the same
  * giant-bucket star-pair guard Dedup applies to LSH buckets. Levenshtein
  * itself is a codegen'd built-in (no UDF).
  */
object Fuzzy {

  /** Distinct part names with their multiplicities and blocking key
    * (= last whitespace token of the name — the head noun). */
  def namesOf(part: DataFrame): DataFrame =
    part.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("block", element_at(split(col("name"), " "), -1))

  /** Fuzzy name pairs: same block, edit distance ≤ `maxDist`, each pair
    * once (name_a < name_b). */
  def fuzzyPartPairsOf(part: DataFrame, maxDist: Int = 3): DataFrame = {
    // the distinct-name aggregate feeds both join sides — persist so the
    // part scan + name rollup runs once
    val names = graft.Memo.pin(namesOf(part))
    val a = names.select(col("block"), col("name").as("name_a"), col("n_parts").as("n_a"))
    val b = names.select(col("block"), col("name").as("name_b"), col("n_parts").as("n_b"))
    a.join(b, Seq("block"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
      .select("name_a", "name_b", "dist", "n_a", "n_b")
  }
}
