package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Graph
import graft.functions.TopKAggregator
import graft.ops.{Intermediates, ResultCache}

/** Coverage for the S8 result-cache analog and the TopKAggregator
  * full-buffer fast path. */
class CacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ResultCache memoizes per key, expires on TTL, and invalidates") {
    var now = 0L
    val cache = new ResultCache(ttlMs = 100L, clock = () => now)
    var computes = 0
    def mk() = { computes += 1; Seq(computes).toDF("x") }

    val a = cache.getOrCompute("k")(mk())
    val b = cache.getOrCompute("k")(mk())
    assert(computes == 1 && (a eq b)) // hit returns the SAME cached plan

    now = 99L
    cache.getOrCompute("k")(mk())
    assert(computes == 1) // still inside TTL

    now = 150L
    val c = cache.getOrCompute("k")(mk())
    assert(computes == 2 && !(c eq a)) // expired → recomputed

    cache.getOrCompute("k2")(mk())
    assert(computes == 3 && cache.size == 2) // keys are independent

    cache.invalidate("k")
    cache.getOrCompute("k")(mk())
    assert(computes == 4)

    cache.clear()
    assert(cache.size == 0)
  }

  test("ResultCache: concurrent misses on one key run exactly one computation") {
    // The round-4 check-then-act race: two threads miss, both compute,
    // one result is silently dropped (its Spark cache leaked). The
    // lazy-holder putIfAbsent design decides the winner BEFORE the
    // computation runs, so losers never compute.
    val cache = new ResultCache()
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val startGate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        startGate.await()
        val df = cache.getOrCompute("race-key") {
          computes.incrementAndGet()
          Seq(1, 2, 3).toDF("x")
        }
        results.add(df)
      })
    }
    threads.foreach(_.start())
    startGate.countDown()
    threads.foreach(_.join(30000))
    assert(computes.get() == 1,
      s"${computes.get()} computations ran for one key under contention")
    val distinct = results.toArray.toSet
    assert(distinct.size == 1, "threads observed different DataFrames")
    assert(cache.size == 1)
    cache.clear()
  }

  test("ResultCache: invalidation during an in-flight computation still unpersists") {
    // The round-5 advice race: invalidate() running while another
    // thread is inside the computation used to see computed=false and
    // skip the unpersist, leaking the Spark-cached plan for the
    // session lifetime. The Entry monitor now serializes them: the
    // invalidator blocks until the compute finishes, then unpersists.
    val cache = new ResultCache()
    val inCompute = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var got: org.apache.spark.sql.DataFrame = null
    val computer = new Thread(() => {
      got = cache.getOrCompute("inflight") {
        inCompute.countDown()
        release.await() // hold the computation open while invalidate runs
        Seq(1, 2, 3).toDF("x")
      }
    })
    computer.start()
    inCompute.await()
    val invalidator = new Thread(() => cache.invalidate("inflight"))
    invalidator.start() // blocks on the Entry monitor until compute ends
    release.countDown()
    computer.join(30000); invalidator.join(30000)
    assert(got != null)
    assert(got.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "invalidation racing an in-flight compute leaked the Spark cache")
    assert(cache.size == 0)
    // a late caller after invalidation gets a usable frame and the
    // dead entry never re-caches behind the map's back
    assert(cache.getOrCompute("inflight")(Seq(4).toDF("x")).count() == 1)
    cache.clear()
  }

  test("PageRank's final checkpoint outlives the consumer's action and the next " +
    "sweep releases it: cached storage returns to its baseline") {
    val s = spark.newSession()
    import s.implicits._
    def cached() = s.sparkContext.getRDDStorageInfo.map(i => i.id -> i.name).toSet
    Intermediates.sweep(s)
    val baseline = cached()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val ranks = Graph.pageRankE9(
      edges.unionByName(edges.select($"dst".as("src"), $"src".as("dst"))), iters = 3)
    assert(ranks.orderBy($"node").collect().length == 4)
    assert(cached() != baseline, "the returned iterate must stay live until the sweep")
    Intermediates.sweep(s)
    assert(cached() == baseline, s"left cached after the sweep: ${cached() -- baseline}")
  }

  test("index-store appends leave no cached RDDs behind: after the sweep, no " +
    "cached RDD is left beyond the baseline for any of the four stores") {
    import graft.ext.{CentroidStore, IvfStore, MinHashStore, PqStore}
    val s = spark.newSession()
    import s.implicits._
    def cached() = s.sparkContext.getRDDStorageInfo.map(i => i.id -> i.name).toSet
    def vecs(ids: Range) = ids.map { i =>
      val c = if (i % 2 == 0) 0.0f else 10.0f
      (i.toLong, Array(c + 0.001f * i, c, c - 0.001f * i, c))
    }.toDF("vec_id", "embedding")
    def docs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until 30).map(j => s"w${(i * 31 + j * 7) % 997}").mkString(" "))
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_cache_stores").toString
    IvfStore.trainCommit(s, s"$root/ivf", vecs(0 until 30), k = 2)
    PqStore.trainCommit(s, s"$root/pq", vecs(0 until 30), m = 4, k = 4)
    CentroidStore.trainCommit(s, s"$root/km", vecs(0 until 30), k = 2)
    MinHashStore.buildCommit(s, s"$root/mh", docs(0 until 30))
    Intermediates.sweep(s)
    val baseline = cached()
    IvfStore.appendBatch(s, s"$root/ivf", vecs(30 until 34))
    PqStore.appendBatch(s, s"$root/pq", vecs(30 until 34))
    CentroidStore.assignBatch(s, s"$root/km", vecs(30 until 34))
    MinHashStore.appendBatch(s, s"$root/mh", docs(30 until 34))
    Intermediates.sweep(s)
    // compared by what is NEW since the baseline: the context cleaner
    // may drop an earlier suite's unreachable checkpoint meanwhile
    val left = cached() -- baseline
    assert(left.isEmpty, s"left cached after the sweep: $left")
  }

  test("SQL surface: registered graft functions work through spark.sql over temp views") {
    Tables.embeddings(spark, "/root/testdata/sf0.001").createOrReplaceTempView("emb_v")
    // graft_cosine resolves from the function registry (the public
    // injectFunction path) in SQL text, not just the Column DSL
    val self = spark.sql(
      """SELECT vec_id, graft_cosine(embedding, embedding) AS c
        |FROM emb_v ORDER BY vec_id LIMIT 5""".stripMargin)
      .as[(Long, Double)].collect()
    assert(self.forall { case (_, c) => math.abs(c - 1.0) < 1e-12 })

    // and an end-to-end SQL query mixing builtins with a graft function
    val top = spark.sql(
      """SELECT a.vec_id ia, b.vec_id ib, graft_cosine(a.embedding, b.embedding) sim
        |FROM emb_v a JOIN emb_v b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 3 AND b.vec_id < 3
        |ORDER BY sim DESC""".stripMargin).collect()
    assert(top.length == 3) // pairs (0,1) (0,2) (1,2)
  }

  test("FreqSketchAggregator: Misra-Gries theorems hold on adversarial streams and merges") {
    import graft.functions.FreqSketchAggregator
    val k = 3
    val agg = new FreqSketchAggregator(k)
    // stream engineered so decrements fire: 4 distinct fillers + heavy 'a'
    val stream = Seq.fill(10)("a") ++ Seq("b", "c", "d", "e", "b", "c", "d", "e") ++ Seq.fill(5)("a")
    val n = stream.length
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap

    def check(sketch: Map[String, Long]): Unit = {
      assert(sketch.size <= k)
      sketch.foreach { case (t, est) =>
        assert(est <= exact(t), s"$t overcounted: $est > ${exact(t)}")
        assert((exact(t) - est) * (k + 1) <= n, s"$t error too large")
      }
      exact.foreach { case (t, c) =>
        if (c * (k + 1) > n) assert(sketch.contains(t), s"heavy hitter $t lost")
      }
    }
    check(stream.foldLeft(agg.zero)(agg.reduce))
    // every split point: merge of two partial sketches keeps the theorems
    for (cut <- 1 until n) {
      val (l, r) = stream.splitAt(cut)
      check(agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
    }
  }

  test("TopKAggregator fast path (full buffer, non-beating input) matches the naive top-k") {
    val agg = new TopKAggregator(3)
    val inputs = Seq(
      (0.5, 1L), (0.9, 2L), (0.7, 3L),
      (0.3, 4L),             // worse than the current worst once full → fast-path skip
      (0.7, 9L),             // ties the worst score but larger id → skip
      (0.7, 0L),             // ties the worst score, SMALLER id → must displace
      (0.95, 6L), (0.1, 7L))
    val buf = inputs.foldLeft(agg.zero)(agg.reduce)
    val expected = inputs.sortBy { case (s, id) => (-s, id) }.take(3)
    assert(agg.finish(buf) == expected)

    // merge of two partial buffers agrees with reducing everything
    val (l, r) = inputs.splitAt(4)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) == expected)
  }
}
