package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, Window}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalLatest, ManifestTable, Ops}
import graft.plans.LatestRegistry

/** Latest-state view rewrite (LatestRewriteRule over
  * IncrementalLatest): the reference's headline `v_latest_prices`
  * shape — `row_number() over (partition by key order by ts desc) = 1`
  * — and its `max_by` aggregate form must be answered from the
  * maintained latest-per-key view when and only when the view is
  * transactionally fresh, with values identical to the full scan.
  * Staleness, retraction rebuilds, non-key filters below the window,
  * semantics-mismatched views and the kill switch must all fall back.
  */
class LatestRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(tag: String): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_latest_$tag").toString
    (d + "/base", d + "/lview")
  }

  /** 3 day-partitions, 8 assets, unique (ts, id) per row. */
  private def seed(base: String): Unit = {
    val rows = (1L to 96L).map { i =>
      (i, s"d${i % 3}", s"a${i % 8}", 1000L + (i * 13L) % 50L, i * 1.5)
    }.toDF("id", "day", "asset", "ts", "price")
    ManifestTable.merge(spark, base, rows, Seq("id"), "day")
  }

  private def roots(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.head.toString
      }
    }.toSet

  private def run(df: DataFrame): (Int, Set[String], Seq[org.apache.spark.sql.Row]) = {
    val b = LatestRegistry.rewrites.get
    val rows = df.collect().toSeq
    (LatestRegistry.rewrites.get - b, roots(df), rows)
  }

  private def truth(df: => DataFrame): Seq[org.apache.spark.sql.Row] = {
    spark.conf.set("spark.graft.latestRewrite.enabled", "false")
    try df.collect().toSeq
    finally spark.conf.set("spark.graft.latestRewrite.enabled", "true")
  }

  private def windowQ(base: String): DataFrame =
    Ops.latestPerKey(ManifestTable.read(spark, base), Seq("asset"),
      Seq(col("ts"), col("id")))
      .select(col("asset"), col("ts"), col("price"))
      .orderBy(col("asset"))

  private def aggQ(base: String): DataFrame =
    Ops.latestPerKeyAgg(ManifestTable.read(spark, base), Seq("asset"),
      struct(col("ts"), col("id")), Seq("ts", "price"))
      .orderBy(col("asset"))

  test("the window form (row_number()=1) answers from the view — base never " +
    "scanned — with scan-identical rows; the max_by form too") {
    val (base, view) = fresh("basic")
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      val (d1, r1, rows1) = run(windowQ(base))
      assert(d1 == 1, s"expected one latest rewrite, saw $d1")
      assert(r1.exists(_.contains("/lview")) && !r1.exists(_.contains("/base")),
        s"the rewritten plan must scan the view only: $r1")
      assert(rows1 == truth(windowQ(base)))

      val (d2, r2, rows2) = run(aggQ(base))
      assert(d2 == 1, s"expected one max_by rewrite, saw $d2")
      assert(r2.exists(_.contains("/lview")) && !r2.exists(_.contains("/base")),
        s"the max_by plan must scan the view only: $r2")
      assert(rows2 == truth(aggQ(base)))
    } finally LatestRegistry.unregister(spark, base)
  }

  /** The unrewritten reference: scan roots and rows with the rule off. */
  private def reference(df: => DataFrame): (Set[String], Seq[org.apache.spark.sql.Row]) = {
    spark.conf.set("spark.graft.latestRewrite.enabled", "false")
    try { val q = df; (roots(q), q.collect().toSeq) }
    finally spark.conf.set("spark.graft.latestRewrite.enabled", "true")
  }

  /** The optimized plan keeps a computed (non-rename) Project below its
    * first Window or Aggregate. */
  private def computedBelow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case w: Window => w.child
      case a: Aggregate => a.child
    }.exists(_.exists {
      case Project(pl, _) => pl.exists {
        case Alias(_: AttributeReference, _) => false
        case _: Alias => true
        case _ => false
      }
      case _ => false
    })

  /** Registers a fresh latest view over a seeded base and checks that
    * `q` (over the base with a computed `p2` column) declines: the plan
    * scans the base like the kill-switch run and returns its rows. */
  private def assertComputedDeclines(tag: String)(q: DataFrame => DataFrame): Unit = {
    val (base, view) = fresh(tag)
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      def df = q(ManifestTable.read(spark, base).withColumn("p2", col("price") * 2))
      assert(computedBelow(df), "the computed Project must survive optimization")
      val (d, r, rows) = run(df)
      val (refRoots, refRows) = reference(df)
      assert(d == 0 && r == refRoots && r.exists(_.contains("/base")),
        s"a computed Project below the $tag must DECLINE: delta=$d roots=$r")
      assert(rows == refRows)
    } finally LatestRegistry.unregister(spark, base)
  }

  test("a computed withColumn Project between the base scan and the " +
    "row_number()=1 window declines to the scan") {
    assertComputedDeclines("window")(df =>
      Ops.latestPerKey(df, Seq("asset"), Seq(col("ts"), col("id")))
        .select(col("asset"), col("ts"), col("p2")).orderBy(col("asset")))
  }

  test("a computed Project under max_by declines to the scan") {
    assertComputedDeclines("max_by")(df =>
      Ops.latestPerKeyAgg(df, Seq("asset"), struct(col("ts"), col("id")),
        Seq("ts", "p2")).orderBy(col("asset")))
  }

  test("a KEY filter below the window re-applies on the view; a non-key " +
    "filter below declines (it changes which row is latest)") {
    val (base, view) = fresh("filters")
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      def keyQ = Ops.latestPerKey(
        ManifestTable.read(spark, base).filter(col("asset").isin("a1", "a2")),
        Seq("asset"), Seq(col("ts"), col("id")))
        .select(col("asset"), col("ts"), col("price")).orderBy(col("asset"))
      val (d1, r1, rows1) = run(keyQ)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"key-filtered latest must rewrite: delta=$d1 roots=$r1")
      assert(rows1 == truth(keyQ))

      def tsQ = Ops.latestPerKey(
        ManifestTable.read(spark, base).filter(col("ts") < 1030L),
        Seq("asset"), Seq(col("ts"), col("id")))
        .select(col("asset"), col("ts"), col("price")).orderBy(col("asset"))
      val (d2, r2, rows2) = run(tsQ)
      assert(d2 == 0 && r2.exists(_.contains("/base")),
        s"a ts filter below the window must DECLINE: delta=$d2 roots=$r2")
      assert(rows2 == truth(tsQ))
    } finally LatestRegistry.unregister(spark, base)
  }

  test("stale view falls back to the scan; an additive base commit refreshes " +
    "INCREMENTALLY and the rewrite recovers bit-equal; a retraction folds by " +
    "KEYED recompute and stays correct") {
    val (base, view) = fresh("fresh")
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      // additive commit: a brand-new day partition with higher ts
      val add = (200L to 220L).map { i =>
        (i, "d9", s"a${i % 8}", 5000L + i, i * 2.0)
      }.toDF("id", "day", "asset", "ts", "price")
      ManifestTable.merge(spark, base, add, Seq("id"), "day")
      val (d1, r1, rows1) = run(windowQ(base))
      assert(d1 == 0 && r1.exists(_.contains("/base")),
        s"stale view must fall back to the scan: delta=$d1 roots=$r1")

      val res = IncrementalLatest.refresh(spark, base, view,
        Seq("asset"), Seq("ts", "id"))
      assert(res.incremental && res.committed,
        s"an additive delta must fold incrementally: $res")
      val (d2, r2, rows2) = run(windowQ(base))
      assert(d2 == 1 && !r2.exists(_.contains("/base")),
        s"refreshed view must rewrite again: delta=$d2 roots=$r2")
      assert(rows2 == rows1, "scan answer and view answer must be identical")

      // retraction: rewrite an existing partition in place
      ManifestTable.updateWhere(spark, base, "day", col("id") % 17 === 3,
        Map("price" -> lit(0.25)))
      val res2 = IncrementalLatest.refresh(spark, base, view,
        Seq("asset"), Seq("ts", "id"))
      assert(res2.incremental && res2.committed && res2.keyedRetraction,
        s"a retraction must fold by keyed recompute, not a rebuild: $res2")
      val (d3, r3, rows3) = run(windowQ(base))
      assert(d3 == 1 && !r3.exists(_.contains("/base")),
        s"rebuilt view must rewrite: delta=$d3 roots=$r3")
      assert(rows3 == truth(windowQ(base)))
    } finally LatestRegistry.unregister(spark, base)
  }

  test("defense-in-depth: a view whose committed keys/ord props mismatch the " +
    "registration never passes freshness; the kill switch disables the rule") {
    val (base, view) = fresh("props")
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    // mis-registration: different ord than the view was built with
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("id", "ts"))
    try {
      def q = Ops.latestPerKey(ManifestTable.read(spark, base), Seq("asset"),
        Seq(col("id"), col("ts"))).select(col("asset"), col("price"))
      val (d1, r1, _) = run(q)
      assert(d1 == 0 && r1.exists(_.contains("/base")),
        s"ord-mismatched registration must never serve the view: $d1 $r1")
    } finally LatestRegistry.unregister(spark, base)

    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      spark.conf.set("spark.graft.latestRewrite.enabled", "false")
      val (d2, r2, _) = run(windowQ(base))
      assert(d2 == 0 && r2.exists(_.contains("/base")),
        s"kill switch must disable the rewrite: $d2 $r2")
    } finally {
      spark.conf.set("spark.graft.latestRewrite.enabled", "true")
      LatestRegistry.unregister(spark, base)
    }
  }

  test("a latest view refreshed with statsColumns/sumColumns composes with " +
    "the metadata-aggregate rule: the KPI aggregate over the window " +
    "collapses to a LocalRelation — no window, no scan at all") {
    val (base, view) = fresh("kpi")
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"),
      statsColumns = Seq("id", "ts"), sumColumns = Seq("ts"))
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      def kpi = Ops.latestPerKey(ManifestTable.read(spark, base),
        Seq("asset"), Seq(col("ts"), col("id")))
        .agg(count(lit(1)).as("n"), sum(col("ts")).as("st"),
          max(col("ts")).as("mx"))
      val scanned = kpi.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.nonEmpty
      assert(!scanned, "the stacked rewrite must leave NO file scan")
      assert(kpi.collect().toSeq == truth(kpi), "collapsed KPIs must be exact")
    } finally LatestRegistry.unregister(spark, base)
  }

  test("COMPOSITE keys: a two-column latest-per-key maintains and rewrites " +
    "like the single-key form") {
    val (base, view) = fresh("composite")
    val rows = (1L to 80L).map { i =>
      (i, s"d${i % 2}", s"a${i % 4}", s"v${i % 3}", 1000L + i, i * 0.5)
    }.toDF("id", "day", "asset", "venue", "ts", "price")
    ManifestTable.merge(spark, base, rows, Seq("id"), "day")
    IncrementalLatest.refresh(spark, base, view,
      Seq("asset", "venue"), Seq("ts", "id"))
    LatestRegistry.register(spark, base, view,
      Seq("asset", "venue"), Seq("ts", "id"))
    try {
      def q = Ops.latestPerKey(ManifestTable.read(spark, base),
        Seq("venue", "asset"), Seq(col("ts"), col("id"))) // reversed order
        .select(col("asset"), col("venue"), col("ts"), col("price"))
        .orderBy(col("asset"), col("venue"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"composite-key latest must rewrite (partition cols are a SET): $d1 $r1")
      assert(rows1 == truth(q))
    } finally LatestRegistry.unregister(spark, base)
  }

  test("the spark.sql surface rewrites too: the textual row_number()=1 " +
    "subquery shape lands on the view") {
    val (base, view) = fresh("sql")
    seed(base)
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"))
    ManifestTable.read(spark, base).createOrReplaceTempView("latest_sql_base")
    try {
      def q = spark.sql(
        """SELECT asset, ts, price FROM (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY asset ORDER BY ts DESC, id DESC) AS rn
          |  FROM latest_sql_base) WHERE rn = 1 ORDER BY asset""".stripMargin)
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"the SQL window shape must rewrite: delta=$d1 roots=$r1")
      assert(rows1 == truth(q))
    } finally {
      spark.catalog.dropTempView("latest_sql_base")
      LatestRegistry.unregister(spark, base)
    }
  }

  test("max_by declines on a view without the ord-non-null certificate: an " +
    "all-null-ord key makes max_by and the window disagree, so refresh " +
    "withholds the certificate and only the null-safe window form rewrites") {
    val (base, view) = fresh("nullord")
    val rows = Seq(
      (1L, "d0", "a0", Some(1000L), 1.5),
      (2L, "d0", "a0", Some(1001L), 2.5),
      (3L, "d1", "a1", Some(1002L), 3.5),
      (4L, "d1", "anull", Option.empty[Long], 4.5)
    ).toDF("id", "day", "asset", "ts", "price")
    ManifestTable.merge(spark, base, rows, Seq("id"), "day")
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts"))
    assert(!ManifestTable.readProps(spark, view)
      .contains(IncrementalLatest.OrdNonNullProp),
      "a view holding a null-ord row must not carry the certificate")
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts"))
    try {
      // anull's only row has ts NULL: the view (window semantics,
      // NULLS LAST) holds that row, but max_by SKIPS it and answers
      // (NULL, NULL) for the group — a certified rewrite would be
      // silently wrong, so it must decline to the scan
      def agg = ManifestTable.read(spark, base).groupBy(col("asset"))
        .agg(expr("max_by(price, ts)").as("p"), max(col("ts")).as("mts"))
        .orderBy(col("asset"))
      val (d1, r1, rows1) = run(agg)
      assert(d1 == 0 && r1.exists(_.contains("/base")),
        s"max_by over an uncertified view must DECLINE: delta=$d1 roots=$r1")
      assert(rows1 == truth(agg))
      // the window form ranks null ords last exactly like the view —
      // null-safe, still rewrites with scan-identical rows
      def win = Ops.latestPerKey(ManifestTable.read(spark, base), Seq("asset"),
        Seq(col("ts"))).select(col("asset"), col("ts"), col("price"))
        .orderBy(col("asset"))
      val (d2, r2, rows2) = run(win)
      assert(d2 == 1 && !r2.exists(_.contains("/base")),
        s"the window form must still rewrite: delta=$d2 roots=$r2")
      assert(rows2 == truth(win))
    } finally LatestRegistry.unregister(spark, base)
  }

  test("durable registration survives a registry wipe (fresh-session " +
    "simulation): the manifest catalog re-arms the rewrite") {
    val (base, view) = fresh("durable")
    seed(base)
    LatestRegistry.register(spark, base, view, Seq("asset"), Seq("ts", "id"),
      durable = true)
    // register BEFORE refresh: the durable write bumps the base
    // version; freshness bridges metadata-only commits either way
    IncrementalLatest.refresh(spark, base, view, Seq("asset"), Seq("ts", "id"))
    try {
      LatestRegistry.clearInMemory()
      val (d1, r1, rows1) = run(windowQ(base))
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"durable catalog must re-arm the rewrite after a wipe: $d1 $r1")
      assert(rows1 == truth(windowQ(base)))
    } finally LatestRegistry.unregister(spark, base, durable = true)
  }
}
