package graftbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.Schemas

/** CoinGecko-shaped payloads generated from the workload seed: the
  * program receives only these frames.
  *
  * `assets` coins with hourly candles; the backfill covers `days` days
  * before `T0`, and cycle k (k = 1, 2, …) is the reference's 2-day
  * fetch: 48 hourly points ending at T0 + k days, whose first 24 hours
  * overlap cycle k-1 with freshly drawn (changed) values. About 3% of
  * points lack a market cap or volume, so the null paths run. */
final class Gen(seed: Long, val assets: Int, val days: Int) {
  import Gen._

  private val ids = (0 until assets).map(i => f"coin-$i%04d")
  private val (symbols, names, basePrice) = {
    val r = new Random(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val nm = ids.map(_ => (0 until 6).map(_ => letters(r.nextInt(26))).mkString)
    (nm.map(_.take(3).toUpperCase), nm.map(n => n.capitalize + " Coin"),
      ids.map(_ => math.exp(r.nextDouble() * 9.0 - 2.0)))
  }

  def runTs(cycle: Int): Timestamp = new Timestamp(T0 + cycle * DayMs + 10 * 60 * 1000L)

  def markets(spark: SparkSession): DataFrame =
    spark.createDataFrame(ids.indices.map(i => Row(ids(i), symbols(i), names(i))).asJava,
      Schemas.coinsMarkets)

  /** Chart rows covering [fromMs, fromMs + hours h), one payload per coin. */
  def chartRows(fromMs: Long, hours: Int, drawSeed: Long): Seq[Row] = {
    val r = new Random(seed * 1000003L + drawSeed)
    ids.indices.map { i =>
      val pts = (0 until hours).map { h =>
        val ms = (fromMs + h * HourMs).toDouble
        val p = round6(basePrice(i) * math.exp(r.nextGaussian() * 0.02))
        val mc = if (r.nextDouble() < 0.03) None else Some(round2(p * 1.0e7 * (1 + r.nextDouble())))
        val vol = if (r.nextDouble() < 0.03) None else Some(round2(p * 1.0e5 * r.nextDouble()))
        (ms, p, mc, vol)
      }
      Row(ids(i),
        pts.map { case (ms, p, _, _) => Seq(ms, p) },
        pts.flatMap { case (ms, _, mc, _) => mc.map(v => Seq(ms, v)) },
        pts.flatMap { case (ms, _, _, v) => v.map(x => Seq(ms, x)) })
    }
  }

  def backfillRows: Seq[Row] = chartRows(T0 - days * DayMs, days * 24, 0)
  def cycleRows(cycle: Int): Seq[Row] = chartRows(T0 + (cycle - 2) * DayMs, 48, cycle)
  def rowsPerCycle: Long = assets * 48L

  def chart(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schemas.marketChart)
}

object Gen {
  val HourMs: Long = 3600L * 1000L
  val DayMs: Long = 24 * HourMs
  /** 2024-03-01T00:00:00Z */
  val T0: Long = 1709251200000L
  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6
  private def round2(x: Double): Double = math.rint(x * 1e2) / 1e2
}
