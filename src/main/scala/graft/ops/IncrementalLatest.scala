package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** INCREMENTAL LATEST-STATE VIEW MAINTENANCE over a [[ManifestTable]]
  * — the maintained form of the reference's HEADLINE view
  * (`v_latest_prices`, `sql/views.sql:2-8`: latest row per key). At
  * 100 TB the raw query is a full fact scan plus a key-wide shuffle
  * (`row_number() over (partition by key order by ts desc) = 1`) on
  * EVERY dashboard refresh; the maintained view answers it from
  * O(keys) pre-folded rows, kept current by folding only each base
  * commit's DELTA.
  *
  * The maintenance operator IS an upsert-by-key keeping the greater
  * order tuple ([[Merge.upsert]]'s last-write-wins shape, applied
  * per refresh batch): latest-per-key is a per-key ARGMAX, and argmax
  * folds exactly over any partition of the rows —
  * `latest(A ∪ B) = latest({latest(A), latest(B)})` — for ANY total
  * order, so the incrementally maintained row is IDENTICAL (row
  * identity, no arithmetic, no rounding) to a full recompute. The
  * fold uses the very comparator the query's window uses (each order
  * column descending, NULLS LAST), so the maintained row matches the
  * window plan's bit-for-bit.
  *
  * Mechanics per [[refresh]] (the [[IncrementalAgg]] posture):
  *   1. The folded-in base version is read from the view's committed
  *      props (atomic with the view data — one manifest rename, so
  *      the applied-but-unrecorded double-fold window cannot exist).
  *   2. Changed base partitions = manifest-entry diff (driver-side).
  *   3. ONE FOLD covers every data delta. Candidates: the view's
  *      rows in the affected key-hash buckets, each flagged RETRACTED
  *      when its `(keys, ord)` tuple is (null-safely) in a changed
  *      partition's OLD content, plus the changed partitions' NEW
  *      content. One window (ord DESC NULLS LAST, new rows first on a
  *      tie) picks each key's row; replaceTouched rewrites the
  *      buckets. Cost: O(delta + affected buckets), no history read.
  *   4. A key whose winner is retracted is RESIDUAL (its latest row
  *      was deleted or lowered) and only those keys recompute, from
  *      one keyed semi-join scan of the base. Exact: ord tuples are
  *      unique per key, so a retracted latest `t_old` beat every row
  *      of its key in the unchanged partitions and any new row
  *      ≥ `t_old` is the argmax; a non-retracted view row still sits
  *      in an unchanged partition. The winners persist once; one
  *      aggregate counts residual keys and null-ord written rows
  *      ([[OrdNonNullProp]]), and the write reads them back. The full
  *      rebuild remains for first build, lapsed retention, spec change.
  *
  * CONTRACTS: `keys` non-null ([[ManifestTable.merge]] refuses null
  * keys on the base anyway); the `ordCols` tuple must be UNIQUE per
  * key (ts plus a unique tie-breaker — the same determinism contract
  * as [[Ops.latestPerKey]]; without it "the" latest row is not
  * well-defined in either engine). For the `max_by` aggregate-form
  * rewrite ([[graft.plans.LatestRewriteRule]]) `ordCols` must also be
  * NON-NULL — `max_by` skips null-ordered rows while the window form
  * ranks them last, and the two diverge exactly when a key's EVERY
  * row has a null ord. That contract is no longer doc-only: each
  * [[refresh]] validates the rows it writes and stamps the
  * [[OrdNonNullProp]] certificate, and the max_by rewrite fires only
  * against a certified view version. */
object IncrementalLatest {

  val BaseVersionProp = "latest.base_version"
  /** The view's committed semantics — [[graft.plans.LatestRewriteRule]]
    * requires these present AND matching the registration
    * (defense-in-depth: a view path mis-registered with different
    * keys or order columns must never pass freshness). */
  val KeysProp = "latest.keys"
  val OrdProp = "latest.ord"
  val BucketsProp = "latest.buckets"
  /** VALIDATED-AT-WRITE certificate that no view row carries a NULL
    * order value — the exact condition under which the `max_by`
    * aggregate form and the window form agree (a view row with null
    * ord means ALL of its key's rows had null ord: the window ranks
    * them last and still emits one, `max_by` skips them all and
    * returns null — the one silent divergence). Every [[refresh]]
    * checks the rows it WRITES and stamps the prop only when the
    * previous version carried it too (full rebuilds start the chain),
    * so the certificate covers the whole view across the refresh
    * lineage, not just the last-touched buckets.
    * [[graft.plans.LatestRewriteRule]] requires it for the max_by
    * rewrite; the window rewrite is null-safe and does not. */
  val OrdNonNullProp = "latest.ord_nonnull"
  /** The view's internal key-hash partition column — public so a
    * SECOND-LEVEL maintained view can be built OVER the latest view
    * (e.g. [[IncrementalJoin.refresh]] with the latest view as the
    * fact: the reference's full `v_latest_prices` = latest ⋈ assets,
    * answered from one pre-joined table). */
  val PartitionColName = "__lbucket"
  private val BucketCol = PartitionColName
  // refresh-internal: candidate source (view 0, new content 1), retracted flag
  private val SrcCol = "__lsrc"
  private val RetractedCol = "__lretracted"

  /** What a [[refresh]] did: `committed` is false only for the
    * already-current no-op; `incremental` is false for a full rebuild;
    * `keyedRetraction` is true when a pre-existing base partition was
    * rewritten or removed; `residualKeys` counts keys recomputed from
    * the base (step 4). */
  final case class RefreshResult(incremental: Boolean, committed: Boolean,
                                 keyedRetraction: Boolean = false,
                                 residualKeys: Long = 0L)

  /** The maintained view: exactly the base's columns, one row per
    * live key. */
  def read(spark: SparkSession, viewPath: String): DataFrame =
    ManifestTable.read(spark, viewPath).drop(BucketCol)

  /** The view AT a retained version — the rewrite pins the version it
    * freshness-checked ([[graft.plans.MvRewriteRule]] posture). */
  def readAt(spark: SparkSession, viewPath: String, version: Long): DataFrame =
    ManifestTable.readVersion(spark, viewPath, version).drop(BucketCol)

  /** The per-key latest row of `df` under the maintained comparator
    * (each ord column DESC, NULLS LAST — the [[Ops.latestPerKey]]
    * window). */
  private def latestRows(df: DataFrame, keys: Seq[String], ordCols: Seq[String],
                         tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordCols.map(col(_).desc) ++ tieBreak: _*)
    df.withColumn("__lrn", row_number().over(w))
      .filter(col("__lrn") === 1).drop("__lrn")
  }

  /** Bring the latest-state view at `viewPath` up to date with the
    * base table at `basePath`. No-op if already current. `buckets`
    * must stay stable per view (committed; a change forces a full
    * rebuild — the key→bucket mapping must not move keys between
    * buckets mid-life, the [[IncrementalAgg.BucketsProp]] argument).
    *
    * `statsColumns`/`sumColumns` commit footer stats and exact
    * per-dir sums ON THE VIEW's own manifest — then
    * [[graft.plans.StatsAggRule]] composes with the window rewrite:
    * "current total per-asset price" (`latestPerKey(prices).agg(
    * count, sum(price))`) collapses all the way to a LocalRelation —
    * no window, no scan, zero tasks — because the latest rewrite
    * lands the aggregate on the view scan and the stats rule answers
    * it from the view's committed metadata. */
  def refresh(spark: SparkSession, basePath: String, viewPath: String,
              keys: Seq[String], ordCols: Seq[String],
              buckets: Int = 16, retainVersions: Int = 2,
              statsColumns: Seq[String] = Nil,
              sumColumns: Seq[String] = Nil): RefreshResult = {
    require(keys.nonEmpty, "IncrementalLatest.refresh: no key columns")
    require(ordCols.nonEmpty, "IncrementalLatest.refresh: no order columns")
    require(keys.intersect(ordCols).isEmpty,
      "IncrementalLatest.refresh: keys and ordCols must be disjoint")
    val hc = spark.sparkContext.hadoopConfiguration
    val baseFs = new Path(basePath).getFileSystem(hc)
    val viewFs = new Path(viewPath).getFileSystem(hc)
    val baseVersions = ManifestTable.versions(baseFs, basePath)
    require(baseVersions.nonEmpty,
      s"IncrementalLatest.refresh: no base table at $basePath")
    val baseCur = baseVersions.last
    val recorded = ManifestTable.readProps(spark, viewPath)
    // an existing view must carry the SAME semantics — silently
    // refreshing under different keys or comparator would serve wrong
    // rows to every rewrite thereafter
    for (k <- recorded.get(KeysProp)) require(k == keys.mkString(","),
      s"IncrementalLatest.refresh: view at $viewPath is keyed on $k, " +
        s"not ${keys.mkString(",")}")
    for (o <- recorded.get(OrdProp)) require(o == ordCols.mkString(","),
      s"IncrementalLatest.refresh: view at $viewPath is ordered by $o, " +
        s"not ${ordCols.mkString(",")}")
    val state = recorded.get(BaseVersionProp).map(_.toLong)
    val sameBuckets = recorded.get(BucketsProp).forall(_ == buckets.toString)
    if (state.contains(baseCur) && sameBuckets)
      return RefreshResult(incremental = false, committed = false)

    val props = Map(BaseVersionProp -> baseCur.toString,
      KeysProp -> keys.mkString(","), OrdProp -> ordCols.mkString(","),
      BucketsProp -> buckets.toString)
    // ord-non-null certificate ([[OrdNonNullProp]]): one bounded
    // existence check over the rows this refresh WRITES (the only
    // rows that can change the view), chained on the previous
    // version's certificate for the buckets it does not touch.
    val prevCertified = recorded.get(OrdNonNullProp).contains("true")
    val nullOrd = ordCols.map(col(_).isNull).reduce(_ || _)
    def writtenRowsCertified(df: DataFrame): Boolean = df.filter(nullOrd).isEmpty
    def propsCert(certified: Boolean): Map[String, String] =
      if (certified) props + (OrdNonNullProp -> "true") else props
    def withBucket(df: DataFrame): DataFrame =
      df.withColumn(BucketCol,
        pmod(xxhash64(keys.map(col): _*), lit(buckets.toLong)).cast("string"))

    def fullRebuild(): RefreshResult = {
      val full = withBucket(
        latestRows(ManifestTable.read(spark, basePath), keys, ordCols))
      ManifestTable.merge(spark, viewPath, full, keys = keys,
        partitionCol = BucketCol, retainVersions = retainVersions,
        replaceTouched = true,
        knownTouched = Some(ManifestTable.partitionKeys(viewFs, viewPath) ++
          (0 until buckets).map(_.toString)),
        props = propsCert(writtenRowsCertified(full)),
        statsColumns = statsColumns, sumColumns = sumColumns)
      RefreshResult(incremental = false, committed = true)
    }

    val incremental = sameBuckets &&
      state.exists(baseVersions.contains) &&
      ManifestTable.versions(viewFs, viewPath).nonEmpty
    if (!incremental) return fullRebuild()

    // Changed base partitions between the recorded and current
    // versions — a driver-side manifest diff.
    val prevV = state.get
    val oldDirs = ManifestTable.partitionDirs(baseFs, basePath, prevV)
    val newDirs = ManifestTable.partitionDirs(baseFs, basePath, baseCur)
    val changed = (oldDirs.keySet ++ newDirs.keySet)
      .filter(k => oldDirs.get(k) != newDirs.get(k))

    if (changed.isEmpty) {
      // metadata-only base commit: advance the watermark with a
      // data-empty version carrying the props (no rows written — the
      // ord-non-null certificate carries exactly when it already held)
      val empty = read(spark, viewPath).limit(0)
      ManifestTable.merge(spark, viewPath, withBucket(empty), keys = keys,
        partitionCol = BucketCol, retainVersions = retainVersions,
        props = propsCert(prevCertified),
        statsColumns = statsColumns, sumColumns = sumColumns)
      return RefreshResult(incremental = true, committed = true)
    }

    // The delta: the changed partitions' OLD content (rewritten or
    // removed — a retraction) and NEW content (rewritten or added).
    def content(v: Long, parts: Set[String]): Option[DataFrame] =
      if (parts.isEmpty) None
      else Some(ManifestTable.readKeys(spark, basePath, v, parts))
    val oldRows = content(prevV, changed.intersect(oldDirs.keySet))
    val newRows = content(baseCur, changed.intersect(newDirs.keySet))
    // affected buckets come from the delta's KEY set (a key whose rows
    // all vanished must still have its bucket rewritten to DROP it)
    val affected = withBucket((oldRows ++ newRows)
        .map(_.select(keys.map(col): _*)).reduce(_ unionByName _))
      .select(col(BucketCol)).distinct().collect().map(_.getString(0)).toSet
    val readable = affected.intersect(ManifestTable.partitionKeys(viewFs, viewPath))
    val current =
      if (readable.isEmpty) read(spark, viewPath).limit(0)
      else ManifestTable.read(spark, viewPath,
        partitionFilter = readable.contains).drop(BucketCol)
    // step 3: a current row whose (keys, ord) tuple sat in old content
    // is RETRACTED (null-safe match — the ord may be null)
    val tuple = keys ++ ordCols
    val flagged = oldRows match {
      case None => current.withColumn(RetractedCol, lit(false))
      case Some(old) =>
        val gone = old.select(tuple.map(c => col(c).as(s"__old_$c")): _*)
        current.join(gone, tuple.map(c => col(c) <=> col(s"__old_$c")).reduce(_ && _),
            "left")
          .select(current.columns.toSeq.map(col) :+
            col(s"__old_${keys.head}").isNotNull.as(RetractedCol): _*)
    }
    // one window; a rewritten row's new copy beats its old one on a tie
    val candidates = newRows.foldLeft(flagged.withColumn(SrcCol, lit(0))) {
      (acc, n) => acc.unionByName(
        n.withColumn(RetractedCol, lit(false)).withColumn(SrcCol, lit(1)))
    }
    val winners = latestRows(candidates, keys, ordCols, Seq(col(SrcCol).desc))
      .drop(SrcCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // step 4: one aggregate counts residual keys and null-ord rows
      val counts = winners.agg(count(when(col(RetractedCol), 1)),
        count(when(!col(RetractedCol) && nullOrd, 1))).head()
      val settled = winners.filter(!col(RetractedCol)).drop(RetractedCol)
      // residual keys recompute from ONE keyed semi-join scan of the
      // current base (the join-prune rule and committed key blooms
      // narrow it to the dirs holding those keys)
      val recomputed =
        if (counts.getLong(0) == 0) None
        else Some(latestRows(ManifestTable.read(spark, basePath).join(
          winners.filter(col(RetractedCol)).select(keys.map(col): _*),
          keys, "left_semi"), keys, ordCols))
      val certified = prevCertified && counts.getLong(1) == 0 &&
        recomputed.forall(writtenRowsCertified)
      ManifestTable.merge(spark, viewPath,
        withBucket(recomputed.foldLeft(settled)(_ unionByName _)), keys = keys,
        partitionCol = BucketCol, retainVersions = retainVersions,
        replaceTouched = true, knownTouched = Some(affected),
        props = propsCert(certified),
        statsColumns = statsColumns, sumColumns = sumColumns)
      RefreshResult(incremental = true, committed = true,
        keyedRetraction = oldRows.nonEmpty, residualKeys = counts.getLong(0))
    } finally winners.unpersist(blocking = false)
  }
}
