package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalJoin, ManifestTable}
import graft.plans.MvJoinRegistry

/** Automatic join-view rewrite (MvJoinRewriteRule): a plain
  * fact ⋈ dim over registered bases must be answered from the
  * IncrementalJoin enrichment view when both versions are provably
  * fresh — neither base scanned, filters on either side re-applied on
  * the view — and every staleness/shape doubt must fall back. */
class MvJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(tag: String): (String, String, String) = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_mvj_$tag").toString
    (d + "/fact", d + "/dim", d + "/jview")
  }

  private def seed(fact: String, dim: String, view: String): Unit = {
    val f = (1L to 40L).map(i => (i, s"d${i % 4}", i % 7, i * 3L))
      .toDF("id", "day", "uid", "v")
    val dm = (0L to 6L).map(u => (u, s"seg-${u % 3}", s"du${u % 2}"))
      .toDF("uid", "seg", "du")
    ManifestTable.merge(spark, fact, f, Seq("id"), "day")
    ManifestTable.merge(spark, dim, dm, Seq("uid"), "du")
    IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"), "uid", "day")
  }

  private def roots(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.head.toString
      }
    }.toSet

  private def run(df: DataFrame): (Int, Set[String], Seq[String]) = {
    val b = MvJoinRegistry.rewrites.get
    val rows = df.collect().map(_.toString).sorted.toSeq
    (MvJoinRegistry.rewrites.get - b, roots(df), rows)
  }

  private def truth(df: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    try df.collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.graft.mvRewrite.enabled", "true")
  }

  test("a plain inner fact⋈dim over registered bases answers from the view " +
    "— neither base scanned — with join-identical rows, filters absorbed") {
    val (fact, dim, view) = fresh("basic")
    seed(fact, dim, view)
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"))
    try {
      def q = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid"))
        .select(col("id"), col("uid"), col("seg"), col("v"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1, s"expected one join-view rewrite, saw $d1")
      assert(r1.exists(_.endsWith("/jview")) &&
        !r1.exists(s => s.endsWith("/fact") || s.endsWith("/dim")), s"$r1")
      assert(rows1 == truth(q))
      // filters on either side commute with the N:1 inner join
      def qf = ManifestTable.read(spark, fact).where(col("v") > 30L)
        .join(ManifestTable.read(spark, dim).where(col("seg") === "seg-1"), Seq("uid"))
        .select(col("id"), col("seg"))
      val (d2, r2, rows2) = run(qf)
      assert(d2 == 1 && !r2.exists(_.endsWith("/fact")))
      assert(rows2 == truth(qf))
      // an aggregate stacked on top still works (rewrite is below it)
      def qa = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid"))
        .groupBy(col("seg")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val (d3, _, rows3) = run(qa)
      assert(d3 == 1 && rows3 == truth(qa))
    } finally MvJoinRegistry.unregister(spark, fact, dim)
  }

  test("staleness on EITHER side falls back: a dim update un-rewrites until " +
    "refresh; fact appends likewise") {
    val (fact, dim, view) = fresh("stale")
    seed(fact, dim, view)
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"))
    try {
      def q = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid"))
        .select(col("id"), col("seg"), col("v"))
      assert(run(q)._1 == 1)
      // dim-side change
      ManifestTable.updateWhere(spark, dim, "du", col("uid") === 3L,
        Map("seg" -> lit("seg-X")))
      val (d2, r2, rows2) = run(q)
      assert(d2 == 0 && r2.exists(_.endsWith("/fact")), "stale dim must scan")
      assert(rows2.exists(_.contains("seg-X")))
      IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"), "uid", "day")
      val (d3, _, rows3) = run(q)
      assert(d3 == 1 && rows3 == rows2)
      // fact-side change
      ManifestTable.merge(spark, fact,
        Seq((99L, "d1", 2L, 999L)).toDF("id", "day", "uid", "v"), Seq("id"), "day")
      val (d4, _, rows4) = run(q)
      assert(d4 == 0 && rows4.exists(_.contains("999")))
      IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"), "uid", "day")
      assert(run(q)._1 == 1)
    } finally MvJoinRegistry.unregister(spark, fact, dim)
  }

  test("two-level MV stack: an aggregate view registered OVER the join view " +
    "composes in one pass — fact⋈dim→groupBy scans only the AGG view") {
    val (fact, dim, view) = fresh("stack")
    val aggView = view + "_agg"
    seed(fact, dim, view)
    graft.ops.IncrementalAgg.refresh(spark, view, aggView, Seq("seg"), Seq("v"))
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"))
    graft.plans.MvRegistry.register(spark, view, aggView, Seq("seg"), Seq("v"))
    try {
      def q = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid"))
        .groupBy(col("seg")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .orderBy(col("seg"))
      val bA = graft.plans.MvRegistry.rewrites.get
      val (dJ, r, rows) = run(q)
      assert(dJ == 1 && graft.plans.MvRegistry.rewrites.get - bA == 1,
        "both the join and the aggregate rewrite must fire in one pass")
      assert(r.exists(_.endsWith("/jview_agg")) &&
        !r.exists(s => s.endsWith("/fact") || s.endsWith("/dim") ||
          s.endsWith("/jview")),
        s"only the second-level agg view may be scanned: $r")
      assert(rows == truth(q))
    } finally {
      MvJoinRegistry.unregister(spark, fact, dim)
      graft.plans.MvRegistry.unregister(spark, view)
    }
  }

  test("rule interaction: a STALE join view falls through to JoinPruneRule — " +
    "the same query still narrows the fact scan via the planning-time probe") {
    val (fact, dim, view) = fresh("interact")
    // fact partitioned by uid-range so the dim's keys can prune dirs
    val f = (1L to 40L).map(i => (i, s"r${(i % 8) / 2}", i % 8, i * 3L))
      .toDF("id", "day", "uid", "v")
    val dm = (0L to 7L).map(u => (u, s"seg-${u % 3}", s"du${u % 2}"))
      .toDF("uid", "seg", "du")
    ManifestTable.merge(spark, fact, f, Seq("id"), "day", statsColumns = Seq("uid"))
    ManifestTable.merge(spark, dim, dm, Seq("uid"), "du")
    IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"), "uid", "day")
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"))
    try {
      // make the view STALE (dim moves on)
      ManifestTable.merge(spark, dim,
        Seq((8L, "seg-9", "du0")).toDF("uid", "seg", "du"), Seq("uid"), "du")
      // a selective broadcast dim slice: only uid 2,3 → fact dirs r1
      val slice = ManifestTable.read(spark, dim)
        .where(col("uid").isin(2L, 3L))
      def q = ManifestTable.read(spark, fact)
        .join(broadcast(slice), Seq("uid"))
        .select(col("id"), col("seg"), col("v"))
      val (d, r, rows) = run(q)
      assert(d == 0 && r.exists(_.endsWith("/fact")),
        "the stale view must not rewrite")
      // ... but JoinPruneRule must have narrowed the fact scan
      val q2 = ManifestTable.read(spark, fact)
        .join(broadcast(slice), Seq("uid"))
        .select(col("id"), col("seg"), col("v"))
      q2.collect()
      val prunes = q2.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location
      }.collect { case g: graft.ops.GraftFileIndex => g.lastPrune }.flatten
      val factPrune = prunes.find(_._2 == 4L)
      assert(factPrune.exists(_._1 < 4L),
        s"JoinPrune must narrow the 4-dir fact on the fallback path: $prunes")
      assert(rows == truth(q))
    } finally MvJoinRegistry.unregister(spark, fact, dim)
  }

  test("back-offs: unregistered pair, wrong join key, outer join, " +
    "partition-filtered fact, kill switch") {
    val (fact, dim, view) = fresh("backoff")
    seed(fact, dim, view)
    def q(f: DataFrame, d: DataFrame): DataFrame =
      f.join(d, Seq("uid")).select(col("id"), col("seg"))
    // unregistered
    assert(run(q(ManifestTable.read(spark, fact), ManifestTable.read(spark, dim)))._1 == 0)
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"))
    try {
      val (f, d) = (ManifestTable.read(spark, fact), ManifestTable.read(spark, dim))
      // join on a NON-registered key never rewrites
      val wrong = f.join(d.withColumnRenamed("uid", "v"), Seq("v"))
      assert(run(wrong.select(col("id")))._1 == 0)
      // outer joins are not the view's semantics
      assert(run(f.join(d, Seq("uid"), "left").select(col("id"), col("seg")))._1 == 0)
      // a partition-filtered fact is not the complete table
      assert(run(q(ManifestTable.read(spark, fact, partitionFilter = _ == "d1"), d))._1 == 0)
      // kill switch (shared with the aggregate rewrite)
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      try assert(run(q(f, d))._1 == 0)
      finally spark.conf.set("spark.graft.mvRewrite.enabled", "true")
      assert(run(q(f, d))._1 == 1, "nothing above should have poisoned the rewrite")
    } finally MvJoinRegistry.unregister(spark, fact, dim)
  }

  test("DURABLE registration on the fact manifest re-arms the join rewrite " +
    "after the in-memory registry clears; durable unregister drops only " +
    "this pair's entries") {
    val (fact, dim, view) = fresh("durable")
    val f = (1L to 40L).map(i => (i, s"d${i % 4}", i % 7, i * 3L))
      .toDF("id", "day", "uid", "v")
    val dm = (0L to 6L).map(u => (u, s"seg-${u % 3}", s"du${u % 2}"))
      .toDF("uid", "seg", "du")
    ManifestTable.merge(spark, fact, f, Seq("id"), "day")
    ManifestTable.merge(spark, dim, dm, Seq("uid"), "du")
    // register BEFORE refresh (the durable register bumps the fact
    // version; freshness pins the versions the refresh folded)
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"), durable = true)
    IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"), "uid", "day")
    def q = ManifestTable.read(spark, fact)
      .join(ManifestTable.read(spark, dim), Seq("uid"))
      .select(col("id"), col("uid"), col("seg"), col("v"))
    val t = truth(q)
    assert(run(q)._1 == 1, "in-memory path fires")
    MvJoinRegistry.clearInMemory()
    val (d2, r2, rows2) = run(q)
    assert(d2 == 1 && r2.exists(_.endsWith("/jview")) &&
      !r2.exists(s => s.endsWith("/fact") || s.endsWith("/dim")),
      s"the durable catalog must re-arm the join rewrite: $r2")
    assert(rows2 == t)
    // durable unregister: the pair's prop is gone; refresh absorbs the
    // version bump and the join scans again
    MvJoinRegistry.unregister(spark, fact, dim, durable = true)
    MvJoinRegistry.clearInMemory()
    IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"), "uid", "day")
    val (d3, r3, rows3) = run(q)
    assert(d3 == 0 && r3.exists(_.endsWith("/fact")),
      "after durable unregister the join must scan again")
    assert(rows3 == t)
  }

  test("durable unregister of one dim leaves the fact's other dim view " +
    "rewriting, in memory and after the in-memory registry clears") {
    val d = java.nio.file.Files.createTempDirectory("graft_mvj_twodim").toString
    val (fact, dimA, dimB) = (d + "/fact", d + "/dimA", d + "/dimB")
    val (viewA, viewB) = (d + "/jviewA", d + "/jviewB")
    val f = (1L to 40L).map(i => (i, s"d${i % 4}", i % 7, i * 3L))
      .toDF("id", "day", "uid", "v")
    ManifestTable.merge(spark, fact, f, Seq("id"), "day")
    ManifestTable.merge(spark, dimA, (0L to 6L).map(u => (u, s"seg-${u % 3}",
      s"du${u % 2}")).toDF("uid", "seg", "du"), Seq("uid"), "du")
    ManifestTable.merge(spark, dimB, (0L to 6L).map(u => (u, s"tier-${u % 2}",
      s"du${u % 2}")).toDF("uid", "tier", "du"), Seq("uid"), "du")
    MvJoinRegistry.register(spark, fact, dimA, viewA, Seq("uid"), durable = true)
    MvJoinRegistry.register(spark, fact, dimB, viewB, Seq("uid"), durable = true)
    IncrementalJoin.refresh(spark, fact, dimA, viewA, Seq("id"), "uid", "day")
    IncrementalJoin.refresh(spark, fact, dimB, viewB, Seq("id"), "uid", "day")
    def qA = ManifestTable.read(spark, fact)
      .join(ManifestTable.read(spark, dimA), Seq("uid"))
      .select(col("id"), col("uid"), col("seg"), col("v"))
    def qB = ManifestTable.read(spark, fact)
      .join(ManifestTable.read(spark, dimB), Seq("uid"))
      .select(col("id"), col("uid"), col("tier"), col("v"))
    val (tA, tB) = (truth(qA), truth(qB))
    try {
      assert(run(qA)._1 == 1 && run(qB)._1 == 1, "both dims rewrite")
      MvJoinRegistry.unregister(spark, fact, dimA, durable = true)
      for (stage <- Seq("in memory", "after clearInMemory")) {
        if (stage != "in memory") MvJoinRegistry.clearInMemory()
        val (dA, rA, rowsA) = run(qA)
        assert(dA == 0 && rA.exists(_.endsWith("/fact")),
          s"$stage: the unregistered dim must scan: $rA")
        assert(rowsA == tA)
        val (dB, rB, rowsB) = run(qB)
        assert(dB == 1 && rB.nonEmpty && rB.forall(_.endsWith("/jviewB")),
          s"$stage: the other dim's view must still answer: $rB")
        assert(rowsB == tB)
      }
    } finally MvJoinRegistry.unregister(spark, fact, dimB, durable = true)
  }

  test("COMPOSITE-KEY inner join rewrites: the equality conjunction must " +
    "cover the registered key list exactly (any order), and a subset join " +
    "falls back") {
    val (fact, dim, view) = fresh("composite")
    val f = (1L to 40L).map(i => (i, s"d${i % 4}", i % 7, s"r${i % 2}", i * 3L))
      .toDF("id", "day", "uid", "region", "v")
    val dm = (0L to 6L).flatMap(u => Seq(
      (u, "r0", s"seg-${u % 3}-a"), (u, "r1", s"seg-${u % 3}-b")))
      .toDF("uid", "region", "seg")
    ManifestTable.merge(spark, fact, f, Seq("id"), "day")
    ManifestTable.merge(spark, dim, dm, Seq("uid", "region"), "region")
    IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"),
      Seq("uid", "region"), "day")
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid", "region"))
    try {
      def q = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid", "region"))
        .select(col("id"), col("uid"), col("region"), col("seg"), col("v"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1, s"composite-key join must rewrite: $d1")
      assert(r1.exists(_.endsWith("/jview")) &&
        !r1.exists(s => s.endsWith("/fact") || s.endsWith("/dim")), s"$r1")
      assert(rows1 == truth(q))
      // key order in the join condition is irrelevant (set equality)
      def q2 = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("region", "uid"))
        .select(col("id"), col("seg"))
      val (d2, _, rows2) = run(q2)
      assert(d2 == 1 && rows2 == truth(q2))
      // a SUBSET of the registered keys is a different (fan-out) join
      def q3 = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim).drop("region"), Seq("uid"))
      val (d3, r3, rows3) = run(q3)
      assert(d3 == 0 && r3.exists(_.endsWith("/fact")),
        "a subset-key join must never rewrite")
      assert(rows3 == truth(q3))
    } finally MvJoinRegistry.unregister(spark, fact, dim)
  }

  test("LEFT OUTER dim-enrichment rewrites fact-preservingly: unmatched fact " +
    "rows null-extend bit-equal to the scan, the dim-side KEY reference " +
    "serves the view's null-extended copy, a fact-side filter commutes, a " +
    "dim-side filter declines, and an inner query over the outer view " +
    "falls back") {
    val (fact, dim, view) = fresh("louter")
    val f = (1L to 40L).map(i => (i, s"d${i % 4}", i % 7, i * 3L))
      .toDF("id", "day", "uid", "v")
    // dim covers only uid 0..3: uids 4..6 null-extend
    val dm = (0L to 3L).map(u => (u, s"seg-${u % 3}", s"du${u % 2}"))
      .toDF("uid", "seg", "du")
    ManifestTable.merge(spark, fact, f, Seq("id"), "day")
    ManifestTable.merge(spark, dim, dm, Seq("uid"), "du")
    IncrementalJoin.refresh(spark, fact, dim, view, Seq("id"),
      Seq("uid"), "day", joinType = "left_outer")
    MvJoinRegistry.register(spark, fact, dim, view, Seq("uid"),
      joinType = "left")
    try {
      def q = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid"), "left_outer")
        .select(col("id"), col("uid"), col("seg"), col("v"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1, s"left-outer enrichment must rewrite: $d1")
      assert(r1.exists(_.endsWith("/jview")) &&
        !r1.exists(s => s.endsWith("/fact") || s.endsWith("/dim")), s"$r1")
      assert(rows1 == truth(q))
      assert(rows1.exists(_.contains("null")), "unmatched rows null-extend")
      // the DIM-side key reference is NULL exactly on unmatched rows —
      // the rewrite serves the view's null-extended __dim_ copy
      val fdf = ManifestTable.read(spark, fact)
      val ddf = ManifestTable.read(spark, dim)
      def qk = fdf.join(ddf, fdf("uid") === ddf("uid"), "left_outer")
        .select(fdf("id"), fdf("uid").as("fuid"), ddf("uid").as("duid"),
          ddf("seg"))
      val (d2, _, rows2) = run(qk)
      assert(d2 == 1 && rows2 == truth(qk),
        "dim-side key must serve the null-extended copy")
      // fact-side filter commutes with the fact-preserving join
      def qf = ManifestTable.read(spark, fact).where(col("v") > 60L)
        .join(ManifestTable.read(spark, dim), Seq("uid"), "left_outer")
        .select(col("id"), col("seg"))
      val (d3, _, rows3) = run(qf)
      assert(d3 == 1 && rows3 == truth(qf))
      // a dim-side filter does NOT commute with null-extension — decline
      def qd = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim).where(col("seg") === "seg-1"),
          Seq("uid"), "left_outer")
        .select(col("id"), col("seg"))
      val (d4, r4, rows4) = run(qd)
      assert(d4 == 0 && r4.exists(_.endsWith("/fact")),
        "a dim-side filter under left outer must fall back")
      assert(rows4 == truth(qd))
      // an INNER query over the left_outer-registered pair falls back
      def qi = ManifestTable.read(spark, fact)
        .join(ManifestTable.read(spark, dim), Seq("uid"))
        .select(col("id"), col("seg"))
      val (d5, _, rows5) = run(qi)
      assert(d5 == 0 && rows5 == truth(qi),
        "join-type mismatch must never rewrite")
      // the MIRROR: dim RIGHT OUTER fact preserves the fact too —
      // same result set, same view
      def qr = ManifestTable.read(spark, dim)
        .join(ManifestTable.read(spark, fact), Seq("uid"), "right_outer")
        .select(col("id"), col("uid"), col("seg"), col("v"))
      val (d6, r6, rows6) = run(qr)
      assert(d6 == 1 && !r6.exists(_.endsWith("/fact")),
        "fact-preserving RIGHT OUTER must rewrite like its LEFT mirror")
      assert(rows6 == truth(qr))
      // …but fact LEFT-preserving reversed (dim-preserving) never does
      def qd2 = ManifestTable.read(spark, dim)
        .join(ManifestTable.read(spark, fact), Seq("uid"), "left_outer")
        .select(col("uid"), col("seg"))
      val (d7, _, rows7) = run(qd2)
      assert(d7 == 0 && rows7 == truth(qd2),
        "a dim-preserving outer join is a different result set")
    } finally MvJoinRegistry.unregister(spark, fact, dim)
  }
}
