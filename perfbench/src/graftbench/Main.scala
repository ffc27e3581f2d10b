package graftbench

import java.io.PrintWriter
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.Incremental
import graft.model.Schemas
import graft.ops.{IncrementalLatest, Intermediates, ManifestTable, ResultCache}
import graft.plans.LatestRegistry
import graft.views.CryptoViews

/** One benchmark run in one JVM: a single closed-loop client on a
  * `local[cpus]` session. Writes one JSON record per set-up and per
  * timed operation to `<work>/records.jsonl`; `perfbench/run.py`
  * turns them into metrics.
  *
  * Every timed operation is cold: `ResultCache.shared` is cleared and
  * `Intermediates` swept before it, outside the timer, and the cache
  * size is recorded so a warm hit can never pass for a cold one.
  * Outputs are checked outside the timer. With `--trace 1` every other
  * operation is traced: a listener, attached only for that operation,
  * counts executor work and the plan is inspected. The tracing work is
  * timed, so traced against untraced operations gives the overhead.
  *
  * Usage: Main --workload W --seed N --passes P --trace 0|1 --work DIR
  *             --cpus C --setups K [--assets A --days D] [--data DIR] */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new BenchRun(opt)
    try run.run() finally run.close()
  }
}

/** One timed step: wall ms, executor counters and driver-only ms when traced. */
final case class Step(ms: Double, c: Option[Counters], driverOnly: Double)

/** The ETL's three tables, durable or in-memory. */
final case class Ref(assets: DataFrame, prices: DataFrame, daily: DataFrame)

final class BenchRun(opt: Map[String, String]) {
  private val workload = opt("workload")
  private val seed = opt("seed").toLong
  private val trace = opt("trace") == "1"
  private val work = opt("work")
  private val cpus = opt("cpus")
  private val setups = opt("setups").toInt
  private val out = new PrintWriter(Files.newBufferedWriter(Paths.get(work, "records.jsonl")))
  private var spark: SparkSession = _
  private var probe: Probe = _

  def close(): Unit = {
    out.close()
    if (spark != null) spark.stop()
  }

  private def emit(fields: (String, Any)*): Unit = { out.println(Json(fields.toMap)); out.flush() }

  private def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = GraftSession.builder(cpus).appName(s"graftbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  // -- tracing -----------------------------------------------------------------
  /** Wall ms the current operation spent on tracing work: attaching and
    * detaching the listener, draining the bus, snapshots, plan inspection. */
  private var traceMs = 0.0

  private def tracing[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally traceMs += nowMs(t0)
  }

  // -- one timed step, with executor counters when traced ------------------
  private def step[T](traced: Boolean)(body: => T): (T, Step) = {
    val before = if (traced) Some(tracing(probe.snapshot())) else None
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = body
    val ms = nowMs(t0)
    val w1 = System.currentTimeMillis()
    val s = tracing(before.map(b => (probe.snapshot() - b, probe.driverOnlyMs(b, w0, w1))))
    (v, Step(ms, s.map(_._1), s.map(_._2).getOrElse(0.0)))
  }

  private def execLayers(steps: Seq[Step]): Seq[(String, Any)] = {
    val cs = steps.flatMap(_.c)
    if (cs.isEmpty) Nil
    else {
      val c = cs.reduce(_ + _)
      Seq("exec.jobs" -> c.jobs, "exec.stages" -> c.stages, "exec.tasks" -> c.tasks,
        "exec.run_ms" -> c.runMs, "exec.cpu_ms" -> c.cpuNs / 1e6,
        "exec.shuffle_read_bytes" -> c.shuffleRead,
        "exec.shuffle_write_bytes" -> c.shuffleWrite, "exec.spill_bytes" -> c.spill,
        "exec.driver_only_ms" -> steps.map(_.driverOnly).sum,
        "scan.input_bytes" -> c.inputBytes)
    }
  }

  private def planLayers(df: DataFrame): Seq[(String, Any)] = {
    val (planMs, rules) = tracing(PlanFacts.planning(df))
    val (read, live) = tracing(PlanFacts.scans(df))
    Seq("plan.ms" -> planMs, "scan.files_read" -> read, "scan.live_files" -> live) ++
      rules.map { case (r, ms) => s"plan.rule_ms.$r" -> ms }
  }

  // -- cold discipline ------------------------------------------------------
  private var baseRdds = 0
  private var baseBytes = 0L

  private def storage(): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Clear every session memo before a cold operation; returns the
    * cache size the operation starts from and the cached RDD count. */
  private def coldStart(): (Seq[(String, Any)], Int) = {
    ResultCache.shared.clear()
    Intermediates.sweep(spark)
    (Seq("cache_entries" -> ResultCache.shared.size), storage()._1)
  }

  /** What the operation registered for release, what it left cached
    * beyond that release, and what stays cached above the pre-run
    * baseline. */
  private def leftBehind(rddsBefore: Int): Seq[(String, Any)] = {
    ResultCache.shared.clear()
    val swept = Intermediates.sweep(spark)
    val (n, b) = storage()
    Seq("swept" -> swept, "rdds_leaked" -> (n - rddsBefore), "rdds_after" -> (n - baseRdds),
      "storage_mb_after" -> (b - baseBytes) / 1e6)
  }

  /** Runs one cold operation and records it; a warm-up operation is
    * checked but not measured. */
  private def timedOp(kind: String, name: String, traced: Boolean, pass: Int,
                      warmup: Boolean = false)
                     (body: => (Boolean, Seq[(String, Any)])): Unit = {
    val (pre, rddsBefore) = coldStart()
    traceMs = 0.0
    val t0 = System.nanoTime()
    if (traced) tracing(spark.sparkContext.addSparkListener(probe))
    val (ok, layers, err) =
      try { val (o, l) = body; (o, l, "") }
      catch { case NonFatal(e) => (false, Nil, e.toString.take(300)) }
      finally if (traced) tracing(spark.sparkContext.removeSparkListener(probe))
    val ms = layers.collectFirst { case ("op_ms", v: Double) => v }.getOrElse(nowMs(t0))
    emit(Seq("t" -> "op", "kind" -> kind, "name" -> name, "pass" -> pass,
      "traced" -> traced, "warmup" -> warmup, "ms" -> ms, "trace_ms" -> traceMs,
      "ok" -> ok, "err" -> err,
      "layers" -> (layers.filterNot(_._1 == "op_ms") ++ pre ++ leftBehind(rddsBefore)).toMap): _*)
  }

  /** Loop `op(i)` for `passes` whole passes of `passLen` operations, so
    * every operation kind is sampled equally and a run's length does not
    * depend on how fast it goes. The loop's wall time, checks included,
    * is capped at two minutes so a run ends in time. */
  private def loop(passLen: Int, passes: Int)(op: Int => Unit): Unit = {
    val (n, b) = storage()
    baseRdds = n; baseBytes = b
    val wall0 = System.nanoTime()
    var i = 0
    while (i < passes * passLen && nowMs(wall0) < 120000) {
      op(i)
      i += 1
    }
  }

  def run(): Unit = {
    workload match {
      case "etl_cycle" => etl()
      case "analytics_mix" => analytics()
      case w => sys.error(s"unknown workload $w")
    }
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    emit("t" -> "end", "heap_peak_mb" -> heap / 1e6)
  }

  // -- etl_cycle -----------------------------------------------------------------
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) =>
            p == q || math.abs(p - q) <= 1e-12 * math.max(1.0, math.abs(p))
          case (p, q) => p == q
        }
      }
    }

  private def etl(): Unit = {
    val gen = new Gen(seed, opt("assets").toInt, opt("days").toInt)
    val backfill = gen.backfillRows
    var base, lview = ""

    for (i <- 0 until setups) {
      val t0 = System.nanoTime()
      newSession()
      val sessionMs = nowMs(t0)
      val dir = s"$work/tables-$i"
      base = s"$dir/base"; lview = s"$dir/lview"
      Incremental.runOnManifest(spark, gen.markets(spark), gen.chart(spark, backfill),
        base, gen.runTs(0))
      IncrementalLatest.refresh(spark, s"$base/prices", lview, Seq("asset_id"), Seq("ts"))
      LatestRegistry.register(spark, s"$base/prices", lview, Seq("asset_id"), Seq("ts"))
      emit("t" -> "setup", "s" -> nowMs(t0) / 1000, "session_ms" -> sessionMs)
    }
    if (trace) probe = new Probe(spark)

    // the in-memory reference path: no manifest, no rewrite
    def empty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
    def advance(r: Ref, markets: DataFrame, chart: DataFrame, cycle: Int): Ref = {
      val (a, p, d) = Incremental.run(markets, chart, r.assets, r.prices, r.daily, gen.runTs(cycle))
      Ref(local(a), local(p), local(d))
    }
    var ref = advance(Ref(empty(Schemas.assets), empty(Schemas.prices), empty(Schemas.dailyMetrics)),
      gen.markets(spark), gen.chart(spark, backfill), 0)
    def durable(): Ref = Ref(Incremental.readAssets(spark, base),
      Incremental.readPrices(spark, base), Incremental.readDaily(spark, base))

    // cycle 1 is a warm-up: the first upsert over existing partitions
    // runs code the set-up's backfill never ran
    loop(1, opt("passes").toInt + 1) { i =>
      val cycle = i + 1
      val traced = trace && i % 2 == 1
      val rows = gen.cycleRows(cycle)
      val markets = gen.markets(spark)
      val chart = gen.chart(spark, rows)
      timedOp("cycle", "cycle", traced, cycle, warmup = i == 0) {
        val (_, sm) = step(traced)(Incremental.runOnManifest(spark, markets, chart, base,
          gen.runTs(cycle)))
        val (lr, sl) = step(traced)(IncrementalLatest.refresh(spark, s"$base/prices", lview,
          Seq("asset_id"), Seq("ts")))
        val ((df, got), sr) = step(traced) {
          val d = durable()
          val v = CryptoViews.vLatestPrices(d.prices, d.assets)
          (v, v.collect())
        }
        ref = advance(ref, markets, chart, cycle)
        val ok = sameRows(got, CryptoViews.vLatestPrices(ref.prices, ref.assets).collect())
        val layers = Seq("op_ms" -> (sm.ms + sl.ms + sr.ms), "etl.merge_ms" -> sm.ms,
          "etl.rows" -> gen.rowsPerCycle, "etl.fresh_read_ms" -> sr.ms,
          "view.refresh_ms.latest" -> sl.ms,
          "view.incremental" -> (lr.incremental && lr.committed),
          "view.keyed_retraction" -> lr.keyedRetraction) ++
          (if (!traced) Nil else {
            val m = sm.c.get
            val (eligible, rewritten) = tracing(PlanFacts.rewrite(df, "/prices", Seq("/lview")))
            Seq("etl.jobs" -> m.jobs, "etl.tasks" -> m.tasks,
              "etl.shuffle_bytes" -> (m.shuffleRead + m.shuffleWrite),
              "manifest.bytes_written" -> m.outputBytes,
              "plan.eligible" -> eligible, "plan.rewritten" -> rewritten) ++
              planLayers(df) ++ execLayers(Seq(sm, sl, sr))
          })
        (ok, layers)
      }
    }
    tableStats(Seq(s"$base/assets", s"$base/prices", s"$base/daily_metrics", lview),
      Incremental.readPrices(spark, base).count())
  }

  /** Retained versions, live files and on-disk bytes of the tables and
    * views at the end of the run. */
  private def tableStats(paths: Seq[String], liveRows: Long): Unit = {
    val fs = new Path(paths.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var versions, liveFiles, bytes = 0L
    for (p <- paths) {
      val vs = ManifestTable.versions(fs, p)
      versions += vs.size
      for (d <- ManifestTable.dataDirs(spark, p, vs.last)) {
        val dp = new Path(p, d)
        if (fs.exists(dp)) liveFiles += fs.listStatus(dp).count { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
      }
      bytes += fs.getContentSummary(new Path(p)).getLength
    }
    emit("t" -> "tables", "versions" -> versions, "live_files" -> liveFiles,
      "bytes" -> bytes, "live_rows" -> liveRows)
  }

  // -- analytics_mix ---------------------------------------------------------------
  private val Gates = Seq("q1_agg", "q11_revenue", "q56_tfidf", "q65_gap_fill",
    "q73_substring_spans", "q87_pagerank", "q93_trend", "q103_bm25_search",
    "q119_lm_score", "q141_segment_dedup")

  private def analytics(): Unit = {
    val data = opt("data")
    Files.writeString(Paths.get(work, "oracle_sql.json"),
      Json(Gates.map(g => g -> SparkEntry.oracleSql(g)).toMap))
    val inputs = Seq("lineitem", "orders", "customer", "events", "documents")
    for (_ <- 0 until setups) {
      val t0 = System.nanoTime()
      newSession()
      val sessionMs = nowMs(t0)
      inputs.foreach(t => graft.Tables.load(spark, data, t).count())
      emit("t" -> "setup", "s" -> nowMs(t0) / 1000, "session_ms" -> sessionMs)
    }
    if (trace) probe = new Probe(spark)
    val rng = new Random(seed)
    var order = Vector.empty[String]
    // one untimed pass first, so JIT and codegen warm-up does not land
    // on whichever gates the seed puts first
    for (g <- Gates) {
      SparkEntry.queries(g)(spark, data).write.format("noop").mode("overwrite").save()
      ResultCache.shared.clear()
      Intermediates.sweep(spark)
    }
    loop(Gates.size, opt("passes").toInt) { i =>
      val pass = i / Gates.size
      if (i % Gates.size == 0) order = rng.shuffle(Gates.toVector)
      val name = order(i % Gates.size)
      // each gate alternates between traced and untraced passes, and
      // half the gates of a pass are traced
      val traced = trace && (pass + Gates.indexOf(name)) % 2 == 0
      val dest = s"$work/out/pass-$pass/$name"
      timedOp("gate", name, traced, pass) {
        // timed as graft.Bench times a gate: build, then a noop write
        val (df, sb) = step(traced)(SparkEntry.queries(name)(spark, data))
        val (_, se) = step(traced)(df.write.format("noop").mode("overwrite").save())
        val layers = Seq("op_ms" -> (sb.ms + se.ms), "gate.build_ms" -> sb.ms,
          "gate.exec_ms" -> se.ms, "out" -> dest) ++
          (if (!traced) Nil else {
            val (planMs, rules) = tracing {
              df.queryExecution.executedPlan // plans the result frame
              PlanFacts.planning(df)
            }
            // warm reuse: the same gate again without clearing the memo
            val (_, sw) = step(false)(SparkEntry.queries(name)(spark, data)
              .write.format("noop").mode("overwrite").save())
            Seq("plan.ms" -> planMs, "gate.warm_ms" -> sw.ms) ++
              rules.map { case (r, ms) => s"plan.rule_ms.$r" -> ms } ++
              execLayers(Seq(sb, se))
          })
        // the result is dumped for the check outside the timer, as
        // graft.Verify dumps it: INT96 timestamps read back naive, like
        // the DuckDB oracle's
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        try df.write.mode("overwrite").parquet(dest)
        finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        (true, layers)
      }
    }
  }
}

/** Minimal JSON encoder for the records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
