package graft

import graft.sources.SourceReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct, explode, max, split}

/** Pins ScaleProbe's argument check and the four N× datasets its
  * replicator writes. */
class ScaleProbeSpec extends SparkSpec {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException] {
      ScaleProbe.run(args.toArray,
        fail("session built before the arguments were checked"))
    }.getMessage

  test("bad arguments are rejected before any session work") {
    assert(rejected("8", "only").contains("only needs query names"))
    val unknown = rejected("8", "only", "q_order_gaps", "q_no_such_query")
    assert(unknown.contains("unknown queries: q_no_such_query"), unknown)
    assert(!unknown.contains("q_order_gaps"), unknown)
    assert(rejected("8", "cust_only").contains("unknown argument cust_only"))
    assert(rejected("8", "ss-only", "extra").contains("unknown argument extra"))
    for (c <- Seq("0", "1", "65", "eight"))
      assert(rejected(c).contains(s"copies must be 2..64, got $c;"), c)
  }

  test("checked arguments name the mode") {
    import ScaleProbe.{Mode, parseArgs}
    assert(parseArgs(Nil) == Mode(8, "", Set.empty))
    assert(parseArgs(Seq("64", "only", "q_order_gaps", "q_pagerank")) ==
      Mode(64, "only", Set("q_order_gaps", "q_pagerank")))
    for (w <- Seq("cust-only", "graph-only", "ss-only", "copurchase-split"))
      assert(parseArgs(Seq("2", w)) == Mode(2, w, Set.empty))
  }

  private val src = VerifyMulti.SfDirs.head

  private def table(dir: String, t: String): DataFrame =
    SourceReader.table(spark, dir, t)

  private def words(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w")).distinct()

  /** Each shape with its grown tables and their shifted key columns. */
  private val shapes = Seq(
    ("default", ScaleProbe.Default, Map(
      "lineitem" -> Seq("l_orderkey"), "orders" -> Seq("o_orderkey"),
      "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))),
    ("customer-shifted", ScaleProbe.CustShifted, Map(
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"), "customer" -> Seq("c_custkey"))),
    ("part-shifted", ScaleProbe.PartShifted, Map(
      "lineitem" -> Seq("l_orderkey", "l_partkey"))),
    ("documents", ScaleProbe.Documents, Map("documents" -> Seq("doc_id"))))

  for ((name, shape, grown) <- shapes)
    test(s"the $name shape at 2 copies doubles its grown tables and keys " +
         "and copies the rest once") {
      val root = tempDir("graft_shape")
      val dst = root.toString
      ScaleProbe.replicate(spark, src, dst, 2, shape)
      assert(shape.shifted.map(_._1).toSet == grown.keySet)
      for ((t, keys) <- grown) {
        val (one, two) = (table(src, t), table(dst, t))
        assert(two.count() == 2 * one.count(), t)
        for (k <- keys) {
          def distinct(df: DataFrame) = df.agg(countDistinct(k)).head().getLong(0)
          assert(distinct(two) == 2 * distinct(one), s"$t.$k")
        }
      }
      for (t <- shape.once) {
        val (one, copied) = (table(src, t), table(dst, t))
        assert(copied.count() == one.count(), t)
        assert(copied.exceptAll(one).isEmpty && one.exceptAll(copied).isEmpty, t)
      }
      if (grown.contains("documents")) {
        val docs = table(dst, "documents")
        val lastId = table(src, "documents").agg(max("doc_id")).head().getLong(0)
        val shared = words(docs.where(col("doc_id") <= lastId))
          .intersect(words(docs.where(col("doc_id") > lastId)))
        assert(shared.isEmpty, shared.head(5).mkString(", "))
      }
      if (name == "customer-shifted") {
        def depth(dir: String) = table(dir, "orders").groupBy("o_custkey")
          .count().agg(max("count")).head().getLong(0)
        assert(depth(dst) == depth(src))
      }
    }
}
