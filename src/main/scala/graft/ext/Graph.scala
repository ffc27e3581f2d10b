package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Intermediates

/** Link-analysis operators over edge lists — the graph family of a
  * large-scale data pipeline (duplicate-cluster centrality, source
  * authority for quality weighting, spam-farm detection).
  *
  * Everything here is the standard distributed PageRank shape: each
  * iteration is one (rank ⋈ out-degree) map, one fan-out join over
  * the edge list, and one destination-keyed hash aggregate. At 100 TB
  * the edge list is the big operand — write it bucketed on `src`
  * ([[graft.ops.Layout.writeBucketed]]) and every iteration's fan-out
  * join is shuffle-free on that side; ranks (one row per node) shuffle
  * on the node key only. Iteration count is a caller-fixed constant
  * ([[pageRankE9]]) or convergence-terminated with an exact integer
  * stopping rule ([[pageRankE9Converged]]), never float-dependent.
  */
object Graph {

  /** PageRank-style propagation, `iters` fixed iterations, in exact
    * 1e-9 fixed point (BIGINT end to end — float ranks would make a
    * cross-engine gate impossible, the q54/q66 argument):
    *
    *   rank'(v) = (1−d)·1e9 + d · Σ_{u→v} (rank(u) div outdeg(u))
    *
    * with d = dampingE2/100 applied as an integer cross-multiply
    * ((dampingE2 · Σ) div 100). Two documented simplifications vs
    * textbook PageRank, both deliberate for a bounded, engine-exact
    * gate: ranks are unnormalized (no division by N — scale-free,
    * ordering unchanged) and DANGLING MASS IS NOT REDISTRIBUTED
    * (sink nodes absorb it; callers who need the stochastic form add
    * reverse edges or self-loops — the q87 gate feeds an undirected
    * edge set, where no node is dangling).
    *
    * Iterative-plan hygiene is the [[Dedup.connectedComponents]]
    * pattern: eager localCheckpoint per iterate, previous iterate
    * released as soon as the next materializes; the returned final
    * iterate is released by the caller's next `Intermediates.sweep`.
    *
    * Input: (srcCol, dstCol) edge list; duplicates are collapsed.
    * Output: (node, rank_e9) for every node on either edge side. */
  def pageRankE9(edges: DataFrame, iters: Int,
                 srcCol: String = "src", dstCol: String = "dst",
                 dampingE2: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingE2 >= 0 && dampingE2 <= 100, s"dampingE2 in [0,100], got $dampingE2")
    // Edge list persisted PRE-PARTITIONED on __src (r20, guide §2.4):
    // the cached InMemoryRelation keeps its HashPartitioning, so every
    // iteration's fan-out join and the one-time out-degree aggregate
    // consume the edges in place — the edge-sized operand crosses the
    // network once at build time, never per iteration (the bucketed
    // variant's layout argument applied to the session cache).
    val e = Intermediates.shared(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")).distinct()
        .repartition(col("__src")))
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node"))).distinct()
    val baseE9 = (100 - dampingE2).toLong * 10000000L // (1−d)·1e9, exact

    // The iterate CARRIES the static out-degree — (node, __deg,
    // rank_e9) — so the per-iteration rank⋈outdeg join of earlier
    // rounds is gone (r20: one node-sized join per iteration, not
    // two). Sinks ride with a null __deg and are filtered from the
    // contribution exactly as the old inner join dropped them.
    var rank = nodes
      .join(outdeg.withColumnRenamed("__src", "node"), Seq("node"), "left")
      .withColumn("rank_e9", lit(1000000000L))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = rank
        .filter(col("__deg").isNotNull)
        .select(col("node").as("__src"), expr("rank_e9 div __deg").as("__c"))
        .join(e, Seq("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("__c")).as("__in"))
      val prev = rank
      rank = prev.select(col("node"), col("__deg"))
        .join(contrib, Seq("node"), "left")
        .withColumn("__in", coalesce(col("__in"), lit(0L)))
        .withColumn("rank_e9", lit(baseE9) + expr(s"($dampingE2 * __in) div 100"))
        .select(col("node"), col("__deg"), col("rank_e9"))
        .localCheckpoint()
      Intermediates.release(prev)
    }
    Intermediates.releaseOnSweep(rank).select(col("node"), col("rank_e9"))
  }

  /** A [[pageRankE9Bucketed]] result: ranks plus the measured plan
    * facts the scale claim rests on. */
  final case class BucketedRank(ranks: DataFrame, edgeScanBucketed: Boolean,
                                shuffleExchanges: Int, probePlan: String)

  /** [[pageRankE9]] over a CATALOG BUCKETED edge table — the 100 TB
    * shape made real instead of documented: with the edge list
    * written `bucketBy(n, src)` ([[graft.ops.Layout.writeBucketed]] /
    * [[graft.ops.Bucketed.writeBucketed]]), every iteration's
    * out-degree aggregate AND rank⋈edges fan-out join consume the
    * bucketed scan's `HashPartitioning(src, n)` in place — the
    * TB-scale operand never crosses the network after its one
    * write-time shuffle; only the node-sized rank frames exchange
    * (once into the src-bucketing, once for the dst-keyed sum).
    * Edges are TRUSTED distinct (the write path dedups) — a
    * `distinct()` here would force the very edge shuffle the layout
    * exists to avoid. Returns the measured plan evidence from the
    * FIRST iteration's contribution plan: the edge scan reports
    * `Bucketed: true` and the plan carries at most `2` shuffle
    * exchanges (rank-sized both) — gates pin these so a silently
    * degraded layout (changed bucket count, disabled bucketing)
    * flips the fact rather than the numbers. */
  def pageRankE9Bucketed(spark: org.apache.spark.sql.SparkSession,
                         edgeTable: String, iters: Int,
                         dampingE2: Int = 85): BucketedRank = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingE2 >= 0 && dampingE2 <= 100, s"dampingE2 in [0,100], got $dampingE2")
    def e = spark.table(edgeTable).select(col("src").as("__src"), col("dst").as("__dst"))
    // Out-degree straight off the bucketed scan — deliberately NOT
    // cached: an InMemoryRelation hides the scan's bucket-derived
    // outputPartitioning behind an adaptive plan, forcing the very
    // exchange the layout avoids (measured: caching adds a third
    // shuffle). Recomputing costs one column-pruned bucketed scan per
    // iteration; at real scale the degree table is itself written
    // bucketed once next to the edges.
    def outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node"))).distinct()
      .localCheckpoint()
    val baseE9 = (100 - dampingE2).toLong * 10000000L

    def contribOf(rank: DataFrame): DataFrame = rank
      .join(outdeg.hint("merge"), col("node") === col("__src"))
      .withColumn("__c", expr("rank_e9 div __deg"))
      .join(e.hint("merge"), Seq("__src"))
      .groupBy(col("__dst").as("node"))
      .agg(sum(col("__c")).as("__in"))

    var rank = nodes.withColumn("rank_e9", lit(1000000000L))
    // plan evidence measured ONCE, on the first iteration's shape
    val probe = contribOf(rank).queryExecution.executedPlan.toString
    val bucketed = probe.contains("Bucketed: true")
    val exchanges = probe.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    for (_ <- 1 to iters) {
      val contrib = contribOf(rank)
      val prev = rank
      rank = nodes.join(contrib, Seq("node"), "left")
        .withColumn("__in", coalesce(col("__in"), lit(0L)))
        .withColumn("rank_e9", lit(baseE9) + expr(s"($dampingE2 * __in) div 100"))
        .select(col("node"), col("rank_e9"))
        .localCheckpoint()
      Intermediates.release(prev)
    }
    Intermediates.release(nodes)
    BucketedRank(rank, bucketed, exchanges, probe)
  }

  /** A [[pageRankE9Converged]] result: the final ranks, how many
    * iterations actually ran, whether the stopping rule fired before
    * `maxIters`, and the last iteration's total absolute rank
    * movement (e-9 units — 0 means an exact integer fixed point). */
  final case class ConvergedRank(ranks: DataFrame, itersRun: Int,
                                 converged: Boolean, lastDeltaE9: Long)

  /** [[pageRankE9]] with CONVERGENCE-BASED TERMINATION — the e9-
    * integer delta-sum stopping rule: after each iteration the total
    * absolute rank movement Σ|rank' − rank| (an exact BIGINT — no
    * float epsilon, so the iteration count is a DETERMINISTIC
    * function of the input and a cross-engine oracle can unroll the
    * same count) is compared against `tolPerNodeE9 · nNodes`; the
    * loop stops at the first iteration at or under the bound, or at
    * `maxIters`. On an already-converged graph this stops in a couple
    * of iterations instead of burning the caller's worst-case budget
    * — the cost of the rule is one slim aggregate per iteration over
    * the just-checkpointed iterate (the previous rank rides along as
    * a carried column; no extra join, no extra shuffle). */
  def pageRankE9Converged(edges: DataFrame, maxIters: Int,
                          tolPerNodeE9: Long = 1L,
                          srcCol: String = "src", dstCol: String = "dst",
                          dampingE2: Int = 85): ConvergedRank = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tolPerNodeE9 >= 0, s"tolPerNodeE9 must be >= 0, got $tolPerNodeE9")
    require(dampingE2 >= 0 && dampingE2 <= 100, s"dampingE2 in [0,100], got $dampingE2")
    // Same r20 shape as [[pageRankE9]]: edges cached pre-partitioned
    // on __src (zero edge-sized exchanges per iteration) and the
    // static out-degree carried on the iterate (one node-sized join
    // per iteration, not two).
    val e = Intermediates.shared(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")).distinct()
        .repartition(col("__src")))
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node"))).distinct()
    val baseE9 = (100 - dampingE2).toLong * 10000000L

    var rank = nodes
      .join(outdeg.withColumnRenamed("__src", "node"), Seq("node"), "left")
      .withColumn("rank_e9", lit(1000000000L))
      .localCheckpoint()
    val nNodes = rank.count()
    require(nNodes > 0, "pageRankE9Converged: edge frame is empty — no nodes to " +
      "rank (the delta aggregate over zero rows would be null)")
    val bound = tolPerNodeE9 * nNodes
    var iters = 0
    var delta = Long.MaxValue
    while (iters < maxIters && delta > bound) {
      val contrib = rank
        .filter(col("__deg").isNotNull)
        .select(col("node").as("__src"), expr("rank_e9 div __deg").as("__c"))
        .join(e, Seq("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("__c")).as("__in"))
      val prev = rank
      // prev rank rides along as __prev so the delta aggregate needs
      // no second join against the previous iterate
      val next = prev.select(col("node"), col("__deg"), col("rank_e9").as("__prev"))
        .join(contrib, Seq("node"), "left")
        .withColumn("__in", coalesce(col("__in"), lit(0L)))
        .withColumn("rank_e9", lit(baseE9) + expr(s"($dampingE2 * __in) div 100"))
        .select(col("node"), col("__deg"), col("rank_e9"), col("__prev"))
        .localCheckpoint()
      delta = next.agg(sum(abs(col("rank_e9") - col("__prev"))))
        .first().getLong(0)
      // keep the CHECKPOINTED handle as the iterate (release() targets
      // the materialized plan, not a projection of it); __prev is
      // stripped by the next iteration's select / the final return
      rank = next
      Intermediates.release(prev)
      iters += 1
    }
    ConvergedRank(rank.select(col("node"), col("rank_e9")), iters,
      delta <= bound, delta)
  }
}
