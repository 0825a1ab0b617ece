package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the plan-shape claims the architecture notes make about scans:
  * column pruning reaching the parquet reader and predicate pushdown
  * reaching the scan's PushedFilters — so a refactor that silently widens
  * a scan (e.g. a select(*) before a join) fails a test, not a bench
  * reading. Scans are collected from `sparkPlan` (pre-AQE: adaptive
  * wrapping hides children from executedPlan.collect until execution). */
class PlanShapeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  // Look THROUGH the leaf-like wrappers: in a shared session another
  // suite may have persisted the same subplan (CacheManager substitutes
  // InMemoryTableScan at physical planning), and an executed cached plan
  // is further wrapped in AdaptiveSparkPlan/QueryStage nodes — all
  // LeafExecNodes that collect() cannot descend into. The pruning
  // evidence lives in the innermost file scans.
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allScans(im.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
    }.flatten

  private def scansOf(df: DataFrame, table: String): Seq[FileSourceScanExec] =
    allScans(df.queryExecution.sparkPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(table)))

  test("order feed prunes the lineitem scan to the used columns") {
    val scans = scansOf(etl.Feeds.orderFeed(spark, d), "lineitem")
    assert(scans.nonEmpty)
    val all = spark.read.parquet(s"$d/lineitem.parquet").columns.toSet
    for (s <- scans) {
      val read = s.requiredSchema.fieldNames.toSet
      // the widest comment/date columns must never reach the reader
      assert(!read.contains("l_comment") && !read.contains("l_shipdate"),
        read.mkString(","))
      assert(read.subsetOf(all) && read.size < all.size, read.mkString(","))
    }
  }

  test("multimodal metadata reads only (doc_id, text) from documents") {
    val scans = scansOf(ops.Multimodal.meta(spark, d), "documents")
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
        s.requiredSchema.fieldNames.mkString(","))
  }

  test("bloom semi-join pushes the priority predicate into the orders scan") {
    val scans = scansOf(ops.RuntimeFilters.bloomUrgentRevenue(spark, d),
                        "orders")
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(_.contains("o_orderpriority"))),
      scans.map(_.metadata.getOrElse("PushedFilters", "-")).mkString(" | "))
  }

  test("JSON props extraction reads only (event_type, props) from events") {
    val scans = scansOf(SparkEntry.queries("q_props_json")(spark, d), "events")
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(s.requiredSchema.fieldNames.toSet == Set("event_type", "props"),
        s.requiredSchema.fieldNames.mkString(","))
  }

  test("domain quota reads only (doc_id, source) from documents") {
    val scans = scansOf(SparkEntry.queries("q_domain_quota")(spark, d), "documents")
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "source"),
        s.requiredSchema.fieldNames.mkString(","))
  }

  test("doc-length histogram reads only text from documents") {
    // r18: the query form rides the memoized textStats grain (a
    // checkpointed leaf, no parquet scan in its plan), so the pruning
    // property is asserted on the operator composition that BUILDS the
    // grain — the plan the scan actually runs in.
    val scans = scansOf(
      ops.TextOps.docLenHistOf(
        ops.TextOps.textStatsOf(ops.TextOps.docsWords(spark, d))),
      "documents")
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(s.requiredSchema.fieldNames.toSet == Set("text"),
        s.requiredSchema.fieldNames.mkString(","))
  }

  test("DQ profile plans one single-COLUMN scan per profiled column") {
    // r19: the 6-way Expand multi-distinct (one 6-column scan expanded
    // 7x, wide partial-agg keys) measured 2.5x slower than a union of
    // per-column single-distinct aggregates. Columnar scans make the
    // union read the SAME total bytes (each branch prunes to its one
    // column) without the row multiplication — the invariant to pin is
    // column pruning per branch, not scan count.
    val scans = scansOf(SparkEntry.queries("q_dq_profile")(spark, d), "orders")
    assert(scans.size == 6, s"${scans.size} scans of orders")
    assert(scans.forall(_.requiredSchema.fieldNames.length == 1),
      scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";"))
  }

  test("orders profile plans no Expand, one single-column scan per column") {
    // three countDistincts in one agg plan as a distinct-aggregate Expand
    // whose grouping keys change order from run to run; a union of
    // single-distinct aggregates plans the same way every run
    val df = SparkEntry.queries("q_profile_orders")(spark, d)
    val expands = df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty, s"Expand in the profile plan: $expands")
    val read = scansOf(df, "orders").map(_.requiredSchema.fieldNames.toSeq)
    assert(read.sortBy(_.mkString) ==
      Seq(Seq("o_custkey"), Seq("o_orderkey"), Seq("o_totalprice")),
      read.map(_.mkString(",")).mkString(";"))
  }

  test("Q5: date filter pushes to the orders scan; nation dim broadcasts") {
    val df = ops.Analytics.localSupplierVolume(spark, d)
    val scans = scansOf(df, "orders")
    assert(scans.nonEmpty)
    // the order-year window must reach the scan's pushed filters
    assert(scans.exists(_.metadata.getOrElse("PushedFilters", "")
             .contains("o_orderdate")),
      scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString(";"))
    val bcasts = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, "nation⨝region dim did not broadcast")
  }

  test("containment tier plans hash joins only — no cartesian product") {
    // the verify-the-candidates composition must stay per-candidate
    // equi-join work; a refactor that degrades the shingle-intersection
    // to a cross join would be the 100 TB blow-up the tier exists to avoid
    val docs = ops.TextOps.withWords(ops.TextOps.normalize(
      spark.read.parquet(s"$d/documents.parquet")))
    val df = ops.Dedup.containmentFor(
      ops.Dedup.minhashPairsOf(ops.Dedup.minhashBandsFastOf(docs)),
      ops.TextOps.shinglesOf(docs))
    val cart = df.queryExecution.sparkPlan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
    }
    assert(cart.isEmpty, s"non-equi join in containment plan: $cart")
  }

  test("token-budget selection reads only its three columns off documents") {
    val scans = scansOf(SparkEntry.queries("q_token_budget_select")(spark, d),
                        "documents")
    assert(scans.nonEmpty)
    for (s <- scans) {
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "source", "text")),
        read.mkString(","))
    }
  }

  test("ann label agreement does not broadcast the corpus-sized label side") {
    // r11 ADVICE: broadcast-hinting the full vec_id->label frame collects
    // every vector's label on the driver; the hint must stay off the
    // CORPUS-sized side (AQE may still CHOOSE broadcast at this tiny SF —
    // we pin the absence of the logical-plan hint, not the physical
    // strategy). The memoized top-k lineage legitimately hints its
    // QUERY-set side (shrunk by the vec_id % 50 filter) — any hint whose
    // subtree lacks that filter is an unbounded broadcast.
    val hints = ops.Vectors.annLabelAgreement(spark, d)
      .queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => r
      }
    val unbounded = hints.filterNot(h => h.child.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.sql.contains("% CAST(50") ||
             f.condition.sql.contains("% 50") => f
    }.nonEmpty)
    assert(unbounded.isEmpty,
      s"corpus-sized broadcast hint present: $unbounded")
  }

  test("lexical diversity is exchange-free and reads only (doc_id, text)") {
    // the op's whole claim is "entirely map-side": a refactor that
    // introduces an explode+groupBy would silently add a corpus-sized
    // shuffle — pin the absence of any exchange in the plan
    val df = SparkEntry.queries("q_lexical_diversity")(spark, d)
    val exchanges = df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"unexpected shuffle: $exchanges")
    val scans = scansOf(df, "documents")
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
        s.requiredSchema.fieldNames.mkString(","))
  }

  test("benford profile reads only o_totalprice from orders") {
    val scans = scansOf(SparkEntry.queries("q_benford_totalprice")(spark, d), "orders")
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(s.requiredSchema.fieldNames.toSet == Set("o_totalprice"),
        s.requiredSchema.fieldNames.mkString(","))
  }

  test("frame dedup plans equi-joins only — no cartesian product") {
    // the chunk-fp bucket join is the LSH shape; a refactor that loses
    // the fp equi-key would go all-pairs over the corpus
    val df = SparkEntry.queries("q_multimodal_frame_dedup")(spark, d)
    val cart = df.queryExecution.sparkPlan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
    }
    assert(cart.isEmpty, s"non-equi join in frame-dedup plan: $cart")
  }

  /** The registry queries whose SparkEntry entry calls ops.Vectors. */
  private def vectorsQueries: Seq[String] = {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val starts = "\"(q_\\w+)\"\\s*->".r.findAllMatchIn(src).toSeq
    starts.zip(starts.drop(1).map(_.start) :+ src.length).collect {
      case (m, end) if src.substring(m.start, end).contains("ops.Vectors.") =>
        m.group(1)
    }.distinct.sorted
  }

  /** The input schema of every window in `plan`, looking through cached
    * relations into their physical plans (and through the adaptive
    * wrappers there, as [[allScans]] does). */
  private def windowInputs(plan: LogicalPlan): Seq[StructType] =
    plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        Seq(w.child.schema)
      case m: InMemoryRelation => physicalWindowInputs(m.cacheBuilder.cachedPlan)
    }.flatten

  private def physicalWindowInputs(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[StructType] =
    p.collect {
      case w: WindowExec => Seq(w.child.schema)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        physicalWindowInputs(im.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        physicalWindowInputs(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        physicalWindowInputs(q.plan)
    }.flatten

  test("no rank window of a Vectors query carries a vector column") {
    val names = vectorsQueries
    assert(names.nonEmpty && names.forall(SparkEntry.queries.contains), names)
    // grains are checkpointed, so their windows are only in the plans that
    // BUILD them: drop the dir's grains and record every action's plan
    Caches.invalidate(spark, d)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        built.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val seen = try names.map { n =>
      n -> windowInputs(SparkEntry.queries(n)(spark, d).queryExecution.optimizedPlan)
    } finally {
      org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val all = seen ++ built.toArray(Array.empty[LogicalPlan]).toSeq
      .map(p => "(grain build)" -> windowInputs(p))
    val carrying = for {
      (n, schemas) <- all
      s <- schemas if s.fields.exists(_.dataType.isInstanceOf[ArrayType])
    } yield s"$n: ${s.fieldNames.mkString(",")}"
    // the exact top-k grain's window is seen in its build, the IVF cell
    // ranking's in the cached relation the IVF paths read
    assert(all.count(_._2.nonEmpty) > names.size / 2 &&
      Seq("(grain build)", "q_ann_ivf_assign")
        .forall(n => all.exists(a => a._1 == n && a._2.nonEmpty)),
      all.map(a => s"${a._1}=${a._2.size}").mkString(" "))
    assert(carrying.isEmpty, carrying.mkString("\n"))
  }

  test("equal scores rank the smaller cand_id first, in topK and nearest") {
    import spark.implicits._
    // the larger id first, so input order cannot be what decides
    val scored = Seq((0L, 7L, 0.5), (0L, 3L, 0.5), (0L, 9L, 0.25))
      .toDF("query_id", "cand_id", "score")
    assert(ops.Vectors.topK(scored, 2).as[(Long, Long, Double, Long)]
      .collect().toSeq.sortBy(_._4) == Seq((0L, 3L, 0.5, 1L), (0L, 7L, 0.5, 2L)))
    assert(ops.Vectors.nearest(scored, "cand_id").select("cand_id")
      .as[Long].collect().toSeq == Seq(3L))
  }
}
