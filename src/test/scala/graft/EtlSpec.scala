package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{ChartAlign, Incremental}
import graft.model.Schemas
import graft.views.CryptoViews

/** Golden scenarios from FIXTURES.md §A3 over the reference-domain
  * pipeline (chart align → OHLC fold → upserts → views). */
class EtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val runTs = ts("2024-01-02 01:10:00")

  private def ms(s: String): Double = ts(s).getTime.toDouble

  /** Chart payload builder: (coin, prices, caps, vols) with [[ms,v]] pairs. */
  private def chart(rows: (String, Seq[Seq[Double]], Seq[Seq[Double]], Seq[Seq[Double]])*): DataFrame =
    rows.toDF("coin_id", "prices", "market_caps", "total_volumes")

  private def emptyTable(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private val markets = Seq(
    ("bitcoin", "btc", "Bitcoin"),
    ("ethereum", "eth", "Ethereum")
  ).toDF("id", "symbol", "name")

  // -- happy-24h ------------------------------------------------------
  test("happy path: align + OHLC + upserts produce exact table states") {
    val c = chart(
      ("bitcoin",
        Seq(Seq(ms("2024-01-01 01:00:00"), 100.0), Seq(ms("2024-01-01 02:00:00"), 110.0),
            Seq(ms("2024-01-01 03:00:00"), 90.0), Seq(ms("2024-01-01 04:00:00"), 105.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 1000.0), Seq(ms("2024-01-01 02:00:00"), 1100.0),
            Seq(ms("2024-01-01 03:00:00"), 900.0), Seq(ms("2024-01-01 04:00:00"), 1050.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 10.0), Seq(ms("2024-01-01 02:00:00"), 11.0),
            Seq(ms("2024-01-01 03:00:00"), 9.0), Seq(ms("2024-01-01 04:00:00"), 10.5))),
      ("ethereum",
        Seq(Seq(ms("2024-01-01 01:00:00"), 10.0), Seq(ms("2024-01-01 02:00:00"), 12.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 500.0), Seq(ms("2024-01-01 02:00:00"), 600.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 5.0), Seq(ms("2024-01-01 02:00:00"), 6.0))))

    val (assets, prices, daily) = Incremental.run(markets, c,
      emptyTable(Schemas.assets), emptyTable(Schemas.prices), emptyTable(Schemas.dailyMetrics),
      runTs)

    assert(assets.count() == 2)
    assert(prices.count() == 6)
    // every price row has aligned mc/vol in the happy path
    assert(prices.filter(col("market_cap").isNull || col("volume").isNull).count() == 0)

    val btc = daily.filter(col("asset_id") === "bitcoin")
      .select("open", "high", "low", "close")
      .as[(BigDecimal, BigDecimal, BigDecimal, BigDecimal)].head()
    assert(btc == ((BigDecimal("100.00000000"), BigDecimal("110.00000000"),
      BigDecimal("90.00000000"), BigDecimal("105.00000000"))))

    // IST run-date stamping (src/etl.py:15,47): 2024-01-02 01:10 UTC
    // is 2024-01-02 06:40 IST → date 2024-01-02.
    val d = daily.select("date").distinct().as[java.sql.Date].head()
    assert(d.toString == "2024-01-02")
  }

  // -- missing-mc-vol ---------------------------------------------------
  test("price point missing from caps/vols survives with nulls (left-join semantics)") {
    val c = chart(
      ("bitcoin",
        Seq(Seq(ms("2024-01-01 01:00:00"), 100.0), Seq(ms("2024-01-01 02:00:00"), 110.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 1000.0)), // 02:00 missing
        Seq())) // all volumes missing
    val aligned = ChartAlign.align(c, lit(runTs))
    val rows = aligned.orderBy("ts")
      .select(col("price").cast("double"), col("market_cap").cast("double"), col("volume").cast("double"))
      .as[(Double, Option[Double], Option[Double])].collect().toSeq
    assert(rows == Seq((100.0, Some(1000.0), None), (110.0, None, None)))

    // daily fold still finds the last non-null mc (src/etl.py:50-53)
    val daily = Incremental.dailyFold(aligned, lit("2024-01-01").cast("date"), lit(runTs))
    val (mc, vol) = daily.select(col("market_cap").cast("double"), col("volume").cast("double"))
      .as[(Option[Double], Option[Double])].head()
    assert(mc == Some(1000.0) && vol.isEmpty)
  }

  // -- overlap-rerun ----------------------------------------------------
  test("overlapping re-run is idempotent; changed values win; first_seen_at preserved") {
    val c1 = chart(("bitcoin",
      Seq(Seq(ms("2024-01-01 01:00:00"), 100.0)),
      Seq(Seq(ms("2024-01-01 01:00:00"), 1000.0)),
      Seq(Seq(ms("2024-01-01 01:00:00"), 10.0))))
    val (a1, p1, d1) = Incremental.run(markets, c1,
      emptyTable(Schemas.assets), emptyTable(Schemas.prices), emptyTable(Schemas.dailyMetrics),
      runTs)

    // second run: same window, corrected price, later runTs
    val c2 = chart(("bitcoin",
      Seq(Seq(ms("2024-01-01 01:00:00"), 101.0)),
      Seq(Seq(ms("2024-01-01 01:00:00"), 1001.0)),
      Seq(Seq(ms("2024-01-01 01:00:00"), 10.1))))
    val runTs2 = ts("2024-01-02 02:10:00")
    val (a2, p2, _) = Incremental.run(markets, c2, a1, p1, d1, runTs2)

    assert(p2.count() == 1) // no duplicate (asset_id, ts)
    assert(p2.select(col("price").cast("double")).as[Double].head() == 101.0)
    // first_seen_at survives from run 1, not overwritten by run 2
    val fs = a2.filter(col("asset_id") === "bitcoin")
      .select("first_seen_at").as[Timestamp].head()
    assert(fs == runTs)
  }

  // -- manifest sink ----------------------------------------------------
  test("runOnManifest: two overlapping runs land the in-memory run's exact states durably") {
    val c1 = chart(("bitcoin",
      Seq(Seq(ms("2024-01-01 01:00:00"), 100.0), Seq(ms("2024-01-01 02:00:00"), 110.0)),
      Seq(Seq(ms("2024-01-01 01:00:00"), 1000.0)),
      Seq(Seq(ms("2024-01-01 01:00:00"), 10.0), Seq(ms("2024-01-01 02:00:00"), 11.0))))
    // second run: overlapping window, corrected 02:00 price + a new
    // 01-02 point (two prices partitions touched), later runTs
    val c2 = chart(("bitcoin",
      Seq(Seq(ms("2024-01-01 02:00:00"), 111.0), Seq(ms("2024-01-02 03:00:00"), 120.0)),
      Seq(Seq(ms("2024-01-02 03:00:00"), 1200.0)),
      Seq(Seq(ms("2024-01-01 02:00:00"), 11.1))))
    val runTs2 = ts("2024-01-02 02:10:00")

    // in-memory reference path (U1-U3 on DataFrames)
    val (a1, p1, d1) = Incremental.run(markets, c1,
      emptyTable(Schemas.assets), emptyTable(Schemas.prices), emptyTable(Schemas.dailyMetrics),
      runTs)
    val (a2, p2, d2) = Incremental.run(markets, c2, a1, p1, d1, runTs2)

    // durable path: same two runs onto ManifestTables
    val base = java.nio.file.Files.createTempDirectory("graft_etl_manifest_").toString
    Incremental.runOnManifest(spark, markets, c1, base, runTs)
    Incremental.runOnManifest(spark, markets, c2, base, runTs2)

    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Incremental.readAssets(spark, base)) == rows(a2))
    assert(rows(Incremental.readPrices(spark, base).select(p2.columns.map(col): _*)) == rows(p2))
    assert(rows(Incremental.readDaily(spark, base).select(d2.columns.map(col): _*)) == rows(d2))

    // and re-applying the second run is a durable no-op (idempotence)
    Incremental.runOnManifest(spark, markets, c2, base, runTs2)
    assert(rows(Incremental.readPrices(spark, base).select(p2.columns.map(col): _*)) == rows(p2))
  }

  test("latest view ⋈ assets over the durable sink refreshes incrementally across " +
    "two runs and matches vLatestPrices; a shared non-key column is refused") {
    import graft.ops.{IncrementalJoin, IncrementalLatest, ManifestTable}
    val c1 = chart(
      ("bitcoin", Seq(Seq(ms("2024-01-01 01:00:00"), 100.0), Seq(ms("2024-01-01 02:00:00"), 110.0)),
        Seq(Seq(ms("2024-01-01 02:00:00"), 1000.0)), Seq(Seq(ms("2024-01-01 02:00:00"), 10.0))),
      ("ethereum", Seq(Seq(ms("2024-01-01 01:00:00"), 50.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 500.0)), Seq(Seq(ms("2024-01-01 01:00:00"), 5.0))))
    // overlapping re-fetch: bitcoin's 02:00 corrected, a new 01-02 point
    val c2 = chart(
      ("bitcoin", Seq(Seq(ms("2024-01-01 02:00:00"), 111.0), Seq(ms("2024-01-02 03:00:00"), 120.0)),
        Seq(Seq(ms("2024-01-02 03:00:00"), 1200.0)), Seq(Seq(ms("2024-01-02 03:00:00"), 12.0))),
      ("ethereum", Seq(Seq(ms("2024-01-01 01:00:00"), 51.0)),
        Seq(Seq(ms("2024-01-01 01:00:00"), 510.0)), Seq(Seq(ms("2024-01-01 01:00:00"), 5.1))))
    val base = java.nio.file.Files.createTempDirectory("graft_etl_ljoin_").toString
    val (lview, ljoin) = (s"$base/lview", s"$base/ljoin")
    def refresh(): IncrementalJoin.RefreshResult = {
      IncrementalLatest.refresh(spark, s"$base/prices", lview, Seq("asset_id"), Seq("ts"))
      IncrementalJoin.refresh(spark, lview, s"$base/assets", ljoin, Seq("asset_id"),
        Seq("asset_id"), IncrementalLatest.PartitionColName)
    }
    def check(): Unit = {
      val want = CryptoViews.vLatestPrices(Incremental.readPrices(spark, base),
        Incremental.readAssets(spark, base))
      val got = IncrementalJoin.read(spark, ljoin).select(want.columns.map(col): _*)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq)
    }
    Incremental.runOnManifest(spark, markets, c1, base, runTs)
    assert(refresh().full)
    check()
    Incremental.runOnManifest(spark, markets, c2, base, ts("2024-01-02 04:10:00"))
    val r = refresh()
    assert(r.committed && !r.full, s"the second run must fold incrementally: $r")
    check()

    val dim = s"$base/dim"
    ManifestTable.merge(spark, dim, Seq(("bitcoin", "x", "p0")).toDF("asset_id", "source", "pd"),
      Seq("asset_id"), "pd")
    val e = intercept[IllegalArgumentException](IncrementalJoin.refresh(spark, lview, dim,
      s"$base/bad", Seq("asset_id"), Seq("asset_id"), IncrementalLatest.PartitionColName))
    assert(e.getMessage.contains("source"), e.getMessage)
  }

  // -- empty-series -----------------------------------------------------
  test("coin with empty chart emits no price rows and no daily row (P7)") {
    val c = chart(("bitcoin", Seq(), Seq(), Seq()))
    val (_, prices, daily) = Incremental.run(markets, c,
      emptyTable(Schemas.assets), emptyTable(Schemas.prices), emptyTable(Schemas.dailyMetrics),
      runTs)
    assert(prices.count() == 0)
    assert(daily.count() == 0)
  }

  // -- trim-window ------------------------------------------------------
  test("trimWindow keeps the boundary point (>= cutoff, coingecko.py:79-84)") {
    val cutoff = ts("2024-01-01 02:00:00").getTime
    val c = chart(("bitcoin",
      Seq(Seq(ms("2024-01-01 01:00:00"), 100.0), Seq(ms("2024-01-01 02:00:00"), 110.0),
          Seq(ms("2024-01-01 03:00:00"), 120.0)),
      Seq(), Seq()))
    val trimmed = ChartAlign.trimWindow(c, "prices", cutoff)
    val kept = ChartAlign.explodeSeries(trimmed, "prices", "price")
      .select(col("price")).as[Double].collect().toSet
    assert(kept == Set(110.0, 120.0))
  }

  // -- asof-gaps + views -------------------------------------------------
  test("views: latest, 24h change with gap → null pct, nulls-last ordering, sparkline window") {
    val asOf = lit(ts("2024-01-02 00:30:00"))
    val assets = Seq(
      ("bitcoin", "btc", "Bitcoin", runTs),
      ("ethereum", "eth", "Ethereum", runTs)
    ).toDF("asset_id", "symbol", "name", "first_seen_at")
    def p(coin: String, t: String, price: Double, mc: Double) =
      (coin, ts(t), BigDecimal(price), BigDecimal(mc), BigDecimal(1.0), "coingecko", runTs)
    val prices = Seq(
      p("bitcoin", "2023-12-31 23:00:00", 95.0, 900.0),  // >24h before asOf
      p("bitcoin", "2024-01-02 00:00:00", 100.0, 1000.0),
      p("ethereum", "2024-01-02 00:00:00", 10.0, 2000.0) // no old point → null pct
    ).toDF("asset_id", "ts", "price", "market_cap", "volume", "source", "inserted_at")

    val latest = CryptoViews.vLatestPrices(prices, assets)
    assert(latest.select("asset_id").as[String].collect().toSeq ==
      Seq("ethereum", "bitcoin")) // ordered by market_cap desc

    val change = CryptoViews.vPriceChange24h(prices, assets, asOf)
      .select(col("asset_id"), col("pct_change_24h").cast("double"))
      .as[(String, Option[Double])].collect().toSeq
    // btc: (100-95)/95*100 = 5.2632 (round 4); eth has no 24h-old point
    // → null pct. Order is market_cap desc nulls last (views.sql:28):
    // eth latest mc=2000 beats btc mc=1000.
    assert(change == Seq(("ethereum", None), ("bitcoin", Some(5.2632))))

    val spark7d = CryptoViews.vSparkline7d(prices, assets, asOf)
    assert(spark7d.count() == 3) // all points within 7 days of asOf

    val ov = CryptoViews.overview(prices, assets, asOf, search = Some("bit"))
    assert(ov.select("asset_id").as[String].collect().toSeq == Seq("bitcoin"))
  }

  test("registerSql: the reference's view NAMES answer spark.sql identically to the functions") {
    val asOf = lit(ts("2024-01-02 00:30:00"))
    val assets = Seq(("bitcoin", "btc", "Bitcoin", runTs))
      .toDF("asset_id", "symbol", "name", "first_seen_at")
    val prices = Seq(
      ("bitcoin", ts("2023-12-31 23:00:00"), BigDecimal(95.0), BigDecimal(900.0),
        BigDecimal(1.0), "coingecko", runTs),
      ("bitcoin", ts("2024-01-02 00:00:00"), BigDecimal(100.0), BigDecimal(1000.0),
        BigDecimal(1.0), "coingecko", runTs)
    ).toDF("asset_id", "ts", "price", "market_cap", "volume", "source", "inserted_at")
    val daily = emptyTable(Schemas.dailyMetrics)

    CryptoViews.registerSql(prices, assets, daily, asOf)
    // a PostgREST consumer's query, verbatim names, through spark.sql
    assert(spark.sql("SELECT asset_id, price FROM v_latest_prices")
      .as[(String, BigDecimal)].collect().toSeq == Seq(("bitcoin", BigDecimal(100.0))))
    assert(spark.sql(
        "SELECT pct_change_24h FROM v_price_change_24h WHERE asset_id = 'bitcoin'")
      .select(col("pct_change_24h").cast("double")).as[Double].head() == 5.2632)
    assert(spark.sql("SELECT count(*) FROM v_sparkline_7d").as[Long].head() == 2L)
    assert(spark.sql("SELECT count(*) FROM v_daily_ohlc").as[Long].head() == 0L)
    assert(spark.sql("SELECT count(*) FROM prices").as[Long].head() == 2L)
  }
}
