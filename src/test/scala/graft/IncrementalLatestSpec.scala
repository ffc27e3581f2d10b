package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalLatest, ManifestTable, Ops}
import graft.plans.JoinPruneRule

/** The single-fold refresh of [[IncrementalLatest]]: a delta that
  * supersedes every retracted latest row folds without reading the
  * base's history, a delta that deletes or lowers a key's latest row
  * recomputes exactly those residual keys, and after any sequence of
  * merges, updates and deletes the view equals a full rebuild. */
class IncrementalLatestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Keys = Seq("asset")
  private val Ord = Seq("ts", "id")

  private def fresh(tag: String): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_ilatest_$tag").toString
    (d + "/base", d + "/lview")
  }

  /** Hourly rows of six assets over `days`, id = ts·8 + asset. */
  private def hours(days: Range, bump: Double): DataFrame =
    (for (d <- days; h <- 0 until 24; a <- 0 until 6) yield {
      val ts = d * 24L + h
      (ts * 8 + a, f"d$d%02d", s"a$a", ts, 100.0 + a + h + bump)
    }).toDF("id", "day", "asset", "ts", "price")

  private def merge(base: String, df: DataFrame): Unit =
    ManifestTable.merge(spark, base, df, Seq("id"), "day")

  private def refresh(base: String, view: String): IncrementalLatest.RefreshResult =
    IncrementalLatest.refresh(spark, base, view, Keys, Ord)

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "day", "asset", "ts", "price").collect().map(_.toString).sorted.toSeq

  /** The view against a full recompute over the current base. */
  private def exact(base: String, view: String): Boolean =
    rows(IncrementalLatest.read(spark, view)) ==
      rows(Ops.latestPerKey(ManifestTable.read(spark, base), Keys, Ord.map(col)))

  /** SQL executions `body` starts, nested ones included. */
  private def executions[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ => ()
      }
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val v = body
      TestBus.drain(spark.sparkContext)
      (v, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("an ETL-shaped overlap upsert folds with no residual in at most 3 " +
    "executions, probes nothing, and equals a full rebuild") {
    val (base, view) = fresh("etl")
    merge(base, hours(0 until 3, 0.0))
    refresh(base, view)
    // re-fetch of the trailing day with changed values plus a new day
    merge(base, hours(2 until 4, 0.5))
    val probes = JoinPruneRule.probeExecutions.get
    val (res, n) = executions(refresh(base, view))
    assert(res == IncrementalLatest.RefreshResult(incremental = true, committed = true,
      keyedRetraction = true, residualKeys = 0L), res)
    assert(n <= 3, s"the fold ran $n SQL executions")
    assert(JoinPruneRule.probeExecutions.get == probes, "the fold must not probe the base")
    assert(exact(base, view))
    // a rewrite of the trailing day alone: each key's new copy of its
    // latest row supersedes the retracted old copy
    merge(base, hours(3 until 4, 1.0))
    assert(refresh(base, view).residualKeys == 0L)
    assert(exact(base, view))
  }

  test("a delete or an update that removes or lowers a key's latest row " +
    "recomputes just the residual keys and stays exact") {
    val (base, view) = fresh("residual")
    merge(base, hours(0 until 2, 0.0))
    refresh(base, view)
    // a0's rows in the last day are deleted: its new latest sits in
    // the unchanged first day
    ManifestTable.deleteWhere(spark, base, "day", col("asset") === "a0" && col("day") === "d01")
    val r1 = refresh(base, view)
    assert(r1.keyedRetraction && r1.residualKeys == 1L, r1)
    assert(exact(base, view))
    // a1's latest row is lowered below its previous row
    ManifestTable.updateWhere(spark, base, "day", col("asset") === "a1" && col("ts") === 47L,
      Map("ts" -> lit(-1L)))
    val r2 = refresh(base, view)
    assert(r2.keyedRetraction && r2.residualKeys == 1L, r2)
    assert(exact(base, view))
    // every row of a2 is deleted: the key leaves the view
    ManifestTable.deleteWhere(spark, base, "day", col("asset") === "a2")
    assert(refresh(base, view).residualKeys == 1L)
    assert(exact(base, view) &&
      IncrementalLatest.read(spark, view).filter(col("asset") === "a2").isEmpty)
  }

  test("the ord-non-null certificate drops when a written row has a null ord " +
    "and chains otherwise") {
    val (base, view) = fresh("cert")
    def certified = ManifestTable.readProps(spark, view)
      .get(IncrementalLatest.OrdNonNullProp).contains("true")
    // ts nullable from the first commit on
    def nullableTs(df: DataFrame) = df.withColumn("ts", when(col("id") >= 0, col("ts")))
    merge(base, nullableTs(hours(0 until 1, 0.0)))
    refresh(base, view)
    assert(certified, "a full rebuild over non-null ords starts the chain")
    merge(base, nullableTs(hours(1 until 2, 0.0)))
    assert(refresh(base, view).incremental && certified, "an additive fold chains it")
    merge(base, nullableTs(hours(1 until 2, 1.0)))
    assert(refresh(base, view).keyedRetraction && certified, "a rewrite fold chains it")
    merge(base, Seq((9000L, "d09", "anull", Option.empty[Long], 1.0))
      .toDF("id", "day", "asset", "ts", "price"))
    assert(refresh(base, view).incremental && !certified,
      "a written null-ord row drops the certificate")
    merge(base, nullableTs(hours(3 until 4, 0.0)))
    assert(refresh(base, view).incremental && !certified,
      "a dropped certificate stays dropped")
    assert(exact(base, view))
  }

  test("property: after every refresh over random merges, updates and deletes " +
    "the view equals a full rebuild") {
    // one op: (kind, day, asset, ts shift); days and assets are tiny so
    // ops collide on the same keys and partitions
    val op = for {
      kind <- Gen.oneOf("merge", "update", "delete")
      day <- Gen.choose(0, 3)
      asset <- Gen.choose(0, 3)
      shift <- Gen.choose(-30L, 30L)
    } yield (kind, day, asset, shift)
    var trial = 0
    val prop = Prop.forAllNoShrink(Gen.listOfN(3, op)) { ops =>
      trial += 1
      val (base, view) = fresh(s"prop$trial")
      merge(base, hours(0 until 2, 0.0).filter(col("asset") < "a4"))
      refresh(base, view)
      ops.forall { case (kind, day, asset, shift) =>
        val a = col("asset") === s"a$asset"
        kind match {
          case "merge" => merge(base, hours(day until day + 1, shift.toDouble)
            .filter(col("asset") < "a4" && col("ts") % 3 =!= shift % 3))
          case "update" => ManifestTable.updateWhere(spark, base, "day",
            a && col("ts") % 2 === 0, Map("ts" -> (col("ts") * 1000 + shift)))
          case _ => ManifestTable.deleteWhere(spark, base, "day",
            a && col("ts") >= day * 24L + 12)
        }
        refresh(base, view)
        exact(base, view)
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1).withInitialSeed(7L), prop)
    assert(res.passed, res.status.toString)
  }
}
