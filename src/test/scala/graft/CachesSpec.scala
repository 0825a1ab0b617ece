package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch,
  Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The memo registry's release contract ([[Caches]]): a retired session's
  * entries vanish while other sessions' are untouched (without it a
  * long-lived multi-session JVM pins every retired session's frames for
  * its own lifetime — the r7 ADVICE finding), per-dir invalidation
  * releases exactly one dir's storage, the loser of a concurrent first
  * build is released at once, teardown releases everything the engine
  * stored, and calling a query again does not grow the registry. */
class CachesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }

  test("invalidateAll drops a retired session's entries and no others") {
    val s2 = spark.newSession() // shares the context, distinct memo keys
    // populate every module's grains for s2
    etl.Pipeline.of(s2, dir)
    ops.TextOps.shingles(s2, dir)
    ops.Dedup.minhashPairs(s2, dir)
    ops.Vectors.annCosineTopK(s2, dir)
    assert(Caches.size(s2, "etl.pipeline") == 1)
    assert(Caches.size(s2, "text.shingles") == 1)
    assert(Caches.size(s2, "dedup.") >= 1)
    assert(Caches.size(s2, "vectors.") >= 1)

    // the MAIN session's entries (whatever other suites built) must
    // survive s2's teardown untouched
    val mainBefore = Caches.size(spark)
    Caches.invalidateAll(s2)
    assert(Caches.size(s2) == 0, "retired session still holds entries")
    assert(Caches.size(spark) == mainBefore,
      "teardown of one session touched another's entries")

    // idempotent: tearing down an already-clean session is a no-op
    Caches.invalidateAll(s2)
    assert(Caches.size(s2) == 0)

    // the registry still works after teardown: re-population re-memoizes
    etl.Pipeline.of(s2, dir)
    assert(Caches.size(s2, "etl.pipeline") == 1)
    Caches.invalidateAll(s2)
  }

  test("invalidateAll releases every frame the queries stored: no " +
       "CacheManager entry and no persisted RDD outlives teardown") {
    Caches.invalidateAll(spark)
    spark.catalog.clearCache()
    def cached(): Int = org.apache.spark.sql.SpecCacheManager.entries(spark)
    assert(cached() == 0)
    val before = persistentIds()
    // each of these persists a frame that its lazy result reads
    for (q <- Seq("q_fuzzy_part_pairs", "q_customer_rfm",
                  "q_bigram_surprisal", "q_dedup_threshold_sweep"))
      SparkEntry.queries(q)(spark, dir).write.format("noop")
        .mode("overwrite").save()
    assert(cached() > 0)
    Caches.invalidateAll(spark)
    assert(cached() == 0,
      "CacheManager entries outlived the registry's teardown")
    val left = persistentIds() -- before
    assert(left.isEmpty, s"persisted RDDs outlived the teardown: $left")
  }

  test("calling a query again adds no registry entry") {
    val s2 = spark.newSession()
    try {
      def rfm(): Int = {
        SparkEntry.queries("q_customer_rfm")(s2, dir)
        Caches.size(s2)
      }
      val once = rfm()
      assert(once > 0)
      assert(Seq(rfm(), rfm()) == Seq(once, once),
        "each call of the query grew the registry")
    } finally Caches.invalidateAll(s2)
  }

  test("Ids.dense registers its sorted persist; invalidateAll drops it") {
    import spark.implicits._
    val before = Caches.size(spark, "track#")
    val ids = Ids.dense(Seq(3L, 1L, 2L).toDF("k"), Seq("k"), "id")
    assert(Caches.size(spark, "track#") == before + 1,
      "dense did not track its persisted sort frame")
    assert(ids.as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    Caches.invalidateAll(spark)
    assert(Caches.size(spark, "track#") == 0,
      "teardown left dense-sort frames registered")
  }

  test("per-dir invalidate releases one dir's grains and the frames " +
       "their builds tracked; another dir's entries survive") {
    val (dirA, dirB) = ("/spec/dirA", "/spec/dirB")
    // the build tracks a dense-sort persist (Ids sits below the dir
    // layer): it must belong to the grain, so per-dir invalidation covers it
    def build(d: String, n: Long): DataFrame =
      Caches.grain(spark, d, "spec.ids") {
        Ids.dense(spark.range(0, n, 1, 2).toDF("k"), Seq("k"), "id")
          .localCheckpoint(eager = true)
      }
    val tracksBefore = Caches.size(spark, "track#")
    val before = persistentIds()
    val a = build(dirA, 50)
    val b = build(dirB, 60)
    assert(Caches.size(spark, "track#") == tracksBefore,
      "a frame tracked inside a build must belong to its grain")
    val heldA = persistentIds() -- before
    assert(checkpointIds(a).forall(heldA.contains))

    Caches.invalidate(spark, dirA)
    val heldB = persistentIds() -- before
    assert(checkpointIds(a).forall(id => !heldB.contains(id)),
      "dirA's checkpoint blocks survived its invalidation")
    assert(checkpointIds(b).forall(heldB.contains),
      "dirB's checkpoint blocks were released")
    assert(heldA.size == 2 * heldB.size,
      s"dirA's tracked sort persist survived: $heldA vs $heldB")
    assert(Caches.grain[DataFrame](spark, dirB, "spec.ids")(
      fail("dirB's entry was dropped")) eq b)
    assert(b.count() == 60L)

    var rebuilt = false
    Caches.grain(spark, dirA, "spec.ids") {
      rebuilt = true
      spark.emptyDataFrame
    }
    assert(rebuilt, "dirA's entry survived its invalidation")
    Caches.invalidate(spark, dirA)
    Caches.invalidate(spark, dirB)
    assert((persistentIds() -- before).isEmpty)
  }

  test("the loser of a concurrent first build is released at once") {
    val d = "/spec/race"
    val latch = new CountDownLatch(2)
    val builds = new ConcurrentLinkedQueue[DataFrame]
    // both builds materialize, then wait for each other: both finish
    // before either reaches the putIfAbsent
    def race(): DataFrame = Caches.grain(spark, d, "spec.race") {
      val cp = spark.range(0, 100, 1, 2).toDF("x")
        .localCheckpoint(eager = true)
      cp.persist(MEMORY_AND_DISK).count()
      builds.add(cp)
      latch.countDown()
      latch.await(60, TimeUnit.SECONDS)
      cp
    }
    val before = persistentIds()
    val pool = Executors.newFixedThreadPool(2)
    val (a, b) =
      try {
        val caller = new Callable[DataFrame] { def call(): DataFrame = race() }
        val fa = pool.submit(caller)
        val fb = pool.submit(caller)
        (fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
      } finally pool.shutdown()
    assert(a eq b, "both callers must get the winner")
    assert(builds.size == 2, "both builds must have run")
    val loser = builds.asScala.find(_ ne a).get
    val held = persistentIds() -- before
    assert(checkpointIds(a).forall(held.contains))
    assert(checkpointIds(loser).forall(id => !held.contains(id)),
      "the losing build's checkpoint blocks stay pinned")
    // the winner's checkpoint and its columnar cache, nothing else
    assert(held.size == 2, s"persisted beyond the winner's blocks: $held")
    Caches.invalidate(spark, d)
    assert((persistentIds() -- before).isEmpty)
  }
}
